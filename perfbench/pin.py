"""Pin the default seed's discrete results from independent oracles.

    python3 perfbench/pin.py

Generates each workload's input for the default seed with the same
generator calls the benchmark uses, rebuilds the edge lists in pandas
(only the generator and the label -> node-id hash run in Spark) and computes every
pinned value with the oracles in ``checks.py`` (numpy power iteration,
union-find, plain-Python synchronous LPA, DuckDB triangle join). Writes
``perfbench/pinned.json``, which ``run.py`` compares against on every
run with the default seed.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pandas as pd

ROOT = Path(__file__).resolve().parents[1]


def node_ids(spark, labels: pd.Series, kind: str) -> dict:
    """label -> engine node id (xxhash64 over (kind, label))."""
    from pyspark.sql import functions as F

    from metagraph_spark.ingest import node_id

    df = spark.createDataFrame(pd.DataFrame({"label": labels.unique()}))
    rows = df.select("label", node_id(F.col("label"), kind).alias("id")).collect()
    return {r["label"]: r["id"] for r in rows}


def oracle(src: np.ndarray, dst: np.ndarray, pagerank=True,
           lpa_rounds=None) -> dict:
    from perfbench import checks

    lab = checks.lpa_oracle(src, dst, fixed=lpa_rounds)
    out = {
        "edges": len(src),
        "nodes": len(np.unique(np.concatenate([src, dst]))),
        "components": checks.components_oracle(src, dst),
        "lpa_labels": len(set(lab.values())),
        "triangles": checks.triangles_oracle(src, dst),
    }
    if pagerank:
        out["supersteps"] = checks.pagerank_oracle(src, dst, tol=1e-6,
                                                   maxiter=100)[2]
    return out


def transcript_auto(spark, seed: int) -> dict:
    from metagraph_spark import ingest
    from perfbench.workloads import TranscriptAuto

    tr = ingest.synthesize_transcripts(spark, TranscriptAuto.CONVS,
                                       seed=seed).toPandas()
    pairs = tr[tr["tool"].notna()][["conv_id", "tool"]].drop_duplicates()
    conv = node_ids(spark, pairs["conv_id"], "conv")
    tool = node_ids(spark, pairs["tool"], "actor")
    src = pairs["conv_id"].map(conv).to_numpy(np.int64)
    dst = pairs["tool"].map(tool).to_numpy(np.int64)
    return oracle(src, dst, lpa_rounds=TranscriptAuto.LPA_ROUNDS)


def stream_refresh(spark, seed: int) -> dict:
    from metagraph_spark import ingest
    from perfbench.workloads import StreamRefresh as W

    tr = ingest.synthesize_transcripts(spark, W.HISTORY_CONVS,
                                       seed=seed).toPandas()
    tr = tr.sort_values(["conv_id", "turn_idx"])
    seq = tr["conv_id"].str.slice(5).astype(int)
    last = tr.groupby("conv_id")["turn_idx"].transform("max")
    late = (seq < W.BATCH_CONVS) & (tr["turn_idx"] * 2 > last)
    tr["actor"] = tr["tool"].fillna(tr["role"])
    novel = tr.loc[late & ~tr["actor"].isin(set(tr.loc[~late, "actor"])), "conv_id"]
    tr["epoch"] = (late & ~tr["conv_id"].isin(set(novel))).astype(int)
    ids = node_ids(spark, tr["actor"], "actor")
    tr["aid"] = tr["actor"].map(ids)
    out = {}
    for k in (0, 1):
        t = tr[tr["epoch"] <= k]
        a = t["aid"].to_numpy(np.int64)
        c = t["conv_id"].to_numpy()
        same = c[1:] == c[:-1]  # consecutive turns of one conversation
        e = pd.DataFrame({"src": a[:-1][same], "dst": a[1:][same]}
                         ).drop_duplicates()
        res = oracle(e["src"].to_numpy(np.int64), e["dst"].to_numpy(np.int64),
                     pagerank=k == 0)
        if k == 0:
            out["edges"], out["nodes"] = res.pop("edges"), res.pop("nodes")
        else:
            res.pop("edges"), res.pop("nodes")
        out.update({f"{key}_e{k}": v for key, v in res.items()})
    return out


def main() -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench.run import DEFAULT_SEED, configure_env, start_spark, stop_spark

    work = ROOT / ".bench_work" / "pin"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    spark = start_spark(work, len(os.sched_getaffinity(0)))
    try:
        pinned = {
            "transcript_auto": transcript_auto(spark, DEFAULT_SEED),
            "stream_refresh": stream_refresh(spark, DEFAULT_SEED),
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    path = ROOT / "perfbench" / "pinned.json"
    path.write_text(json.dumps(pinned, indent=2, sort_keys=True) + "\n")
    print(json.dumps(pinned, indent=2, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
