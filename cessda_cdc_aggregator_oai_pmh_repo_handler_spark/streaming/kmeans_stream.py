"""Streaming MINI-BATCH k-means — Sculley's web-scale k-means realized as
a foreachBatch loop over the same fused mapInPandas kernel batch Lloyd
uses (`operators.clustering.sweep_partials`): each microbatch is one
assignment + per-cluster partial-sum sweep against the CURRENT centroids,
and the update applies the per-center learning rate

    n_c  += n_c_batch
    c    += (s_batch - n_c_batch · c) / n_c          (Sculley 2010, batch form)

so a center moves toward each batch's mean with step 1/n_c — exactly the
incremental form whose fixed point is the Lloyd update (a first batch
covering all data with fresh counts reproduces one exact Lloyd sweep, the
equivalence the test pins).

Scale design: per batch the cluster sees one Arrow-batched pass over the
batch's rows; what leaves the executors is ≤ partitions × k tiny
(count, sum-vector) rows, and the persisted state is k centroids + k
counts + the last applied epoch — kilobytes, independent of stream
volume. Epoch guarding makes retried foreachBatch deliveries no-ops: the
state records the last applied epoch and a replayed one is skipped."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.clustering import sweep_partials

STATE_FILE = "kmeans_state.json"


def load_state(state_dir: str) -> dict:
    with open(os.path.join(state_dir, STATE_FILE)) as f:
        return json.load(f)


def _save_state(state_dir: str, state: dict) -> None:
    os.makedirs(state_dir, exist_ok=True)
    tmp = os.path.join(state_dir, STATE_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, os.path.join(state_dir, STATE_FILE))  # atomic publish


def bootstrap(vectors: DataFrame, k: int, state_dir: str) -> dict:
    """Deterministic init — the k lowest vec_ids' vectors, the same rule
    as batch `kmeans_fit`."""
    seeds = vectors.orderBy("vec_id").limit(k).collect()
    state = {
        "centroids": [list(map(float, r["embedding"])) for r in seeds],
        "counts": [0] * k,
        "last_epoch": -1,
    }
    _save_state(state_dir, state)
    return state


def process_batch(batch: DataFrame, state_dir: str, epoch: int) -> None:
    """One mini-batch update; replayed epochs are no-ops."""
    state = load_state(state_dir)
    if epoch <= state["last_epoch"]:
        return
    C = state["centroids"]
    counts = state["counts"]
    merged: dict[int, tuple[int, list[float]]] = {}
    for r in sweep_partials(batch, C).collect():  # ≤ partitions × k rows
        n0, s0 = merged.get(r["cluster"], (0, [0.0] * len(C[0])))
        merged[r["cluster"]] = (
            n0 + r["n"], [a + b for a, b in zip(s0, r["s"])])
    for c, (n_b, s_b) in merged.items():
        counts[c] += n_b
        eta_n = counts[c]
        C[c] = [cv + (sv - n_b * cv) / eta_n for cv, sv in zip(C[c], s_b)]
    state["last_epoch"] = epoch
    _save_state(state_dir, state)


def start_kmeans_stream(spark: SparkSession, source_dir: str, schema,
                        state_dir: str, checkpoint: str, k: int = 10):
    """Maintain streaming centroids from a parquet vector landing dir;
    bootstrap must have been called on seed data first."""
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(source_dir))
    return (stream.writeStream
            .foreachBatch(lambda b, eid: process_batch(b, state_dir,
                                                       int(eid)))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
