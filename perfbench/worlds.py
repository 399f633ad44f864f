"""Seeded benchmark worlds and their oracle triples.

A world is made by the program's own fixture generator
(``fixtures/spark_generator.py``) and written to parquet; the pipeline only
ever sees that parquet.  The seed sets ``PipelineConfig.seed`` (which
chooses the held-out NIL entities in ``make_entities_pdf``) and a seeded
permutation of the entity keys that the transcript generator samples
mentions from.  Conversation shapes and batch ids are hash-derived and
identical across seeds, so every seed does the same amount of work.

World and oracle are the benchmark's own costs: both are built once per
(workload, seed, shape) into a cache directory and are never timed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass, replace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from incremental_entity_extraction_spark.config import DEFAULT_CONFIG, PipelineConfig
from incremental_entity_extraction_spark.fixtures.spark_generator import (
    make_entities_pdf,
    spark_transcripts,
)
from incremental_entity_extraction_spark.oracle import oracle_run_incremental


@dataclass(frozen=True)
class Shape:
    n_entities: int
    dim: int
    nil_frac: float
    n_convs: int
    hot_turns: int
    batches_per_call: int
    calls: int                      # disjoint batch groups, one per timed call
    call_s: float                   # one call's wall on a 4-core host
    warm_batches: int               # batches in the untimed warm-up group
    warm_calls: int = 1             # untimed calls on the warm-up group
    retrieval_mode: str = "broadcast"
    # "exact": triple sets must equal the oracle's; a float is the F1 floor
    # of the approximate (ANN) retrieval modes
    gate: str | float = "exact"
    # every batch's NIL set must stay on the driver clustering path
    driver_path: bool = False


def cfg_for(shape: Shape, seed: int) -> PipelineConfig:
    return replace(DEFAULT_CONFIG, dim=shape.dim, seed=seed)


LAYOUT = 5  # bump when the cached world's layout changes


def _key(name: str, shape: Shape, seed: int) -> str:
    spec = json.dumps([LAYOUT, asdict(shape)], sort_keys=True)
    h = hashlib.sha1(spec.encode()).hexdigest()
    return f"{name}_s{seed}_{h[:10]}"


@dataclass
class World:
    dir: str
    transcripts: str   # parquet paths
    kb: str
    groups: list       # batch ids of each timed call's closed loop
    group_turns: list
    warm_group: list   # batch ids of the untimed warm-up calls

    def oracle(self, g: int) -> set:
        pdf = pd.read_parquet(os.path.join(self.dir, "oracle.parquet"))
        return triple_set(pdf[pdf["group"] == g])


def balanced_batches(turns: pd.Series, n_batches: int) -> dict:
    """conv_id -> batch id, dealing whole conversations (largest first) to
    the batch with the fewest turns so far, so batches are near-equal."""
    load = [0] * n_batches
    out = {}
    for conv, n in sorted(turns.items(), key=lambda kv: (-kv[1], kv[0])):
        b = min(range(n_batches), key=lambda i: (load[i], i))
        out[conv] = b
        load[b] += n
    return out


def build_world(spark, name: str, shape: Shape, seed: int, cache_dir: str) -> World:
    """Generate (or reuse) the world for (workload, seed) and its oracle.

    The first ``warm_batches`` batches are the warm-up group; each further
    run of ``batches_per_call`` batches is one timed call's closed loop, so
    no timed call repeats the batch ids (and so the per-batch query plans)
    of another."""
    d = os.path.join(cache_dir, _key(name, shape, seed))
    done = os.path.join(d, "world.json")
    B, G, W = shape.batches_per_call, shape.calls, shape.warm_batches
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        cfg = cfg_for(shape, seed)
        entities, kb = make_entities_pdf(shape.n_entities, shape.nil_frac, cfg)
        perm = np.random.default_rng(seed).permutation(len(entities))
        entities = entities.assign(ent_key=entities["ent_key"].to_numpy()[perm])
        tdf = spark_transcripts(
            spark, entities, n_convs=shape.n_convs, hot_turns=shape.hot_turns,
            n_batches=1,
        )
        t_pdf = tdf.toPandas()
        to_batch = balanced_batches(t_pdf.groupby("conv_id").size(), W + B * G)
        t_pdf["batch_id"] = t_pdf["conv_id"].map(to_batch).astype("int32")
        t_pdf = t_pdf.sort_values(["batch_id", "conv_id", "turn_idx"], ignore_index=True)
        # written by pyarrow: one file per table, no Spark jobs
        os.makedirs(os.path.join(d, "transcripts"))
        os.makedirs(os.path.join(d, "kb"))
        pa_schema = to_arrow_schema(tdf.schema)
        pq.write_table(
            pa.Table.from_pandas(t_pdf[pa_schema.names], schema=pa_schema, preserve_index=False),
            os.path.join(d, "transcripts", "part-0.parquet"), coerce_timestamps="us")
        pq.write_table(pa.Table.from_pandas(kb, preserve_index=False),
                       os.path.join(d, "kb", "part-0.parquet"))
        groups = [list(range(W + g * B, W + (g + 1) * B)) for g in range(G)]
        oracles = []
        for g, ids in enumerate(groups):
            _, _, triples, _ = oracle_run_incremental(
                t_pdf[t_pdf["batch_id"].isin(ids)], kb, cfg)
            oracles.append(triples[["subj", "pred", "obj"]].astype(str).assign(group=g))
        pd.concat(oracles, ignore_index=True).to_parquet(
            os.path.join(d, "oracle.parquet"), index=False)
        with open(done, "w") as f:
            json.dump({
                "groups": groups,
                "group_turns": [int(t_pdf["batch_id"].isin(ids).sum()) for ids in groups],
            }, f)
    with open(done) as f:
        meta = json.load(f)
    return World(d, os.path.join(d, "transcripts"), os.path.join(d, "kb"),
                 meta["groups"], meta["group_turns"], list(range(W)))


def triple_set(pdf: pd.DataFrame) -> set:
    return set(zip(pdf["subj"].astype(str), pdf["pred"].astype(str), pdf["obj"].astype(str)))


def f1(got: set, want: set) -> float:
    if not got and not want:
        return 1.0
    tp = len(got & want)
    if tp == 0:
        return 0.0
    p, r = tp / len(got), tp / len(want)
    return 2 * p * r / (p + r)


def digest(triples: set) -> str:
    h = hashlib.sha256()
    for t in sorted(triples):
        h.update("\x1f".join(t).encode())
        h.update(b"\n")
    return h.hexdigest()
