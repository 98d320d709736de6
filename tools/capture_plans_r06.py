"""Capture before/after superstep plans for plans/r06/.

"Before" = operators at the round-start commit (loaded from git blobs into
throwaway modules); "after" = the working tree. Plan SHAPE is
scale-independent, so small deterministic graphs suffice; every plan is the
REAL loop's materialization plan captured via ``state.PLAN_SINK``.

Usage: python tools/capture_plans_r06.py [base_commit]
"""

from __future__ import annotations

import importlib.util
import os
import random
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = sys.argv[1] if len(sys.argv) > 1 else "92f2b23"
OUT = os.path.join(REPO, "plans", "r06")


def old_module(relpath, name):
    src = subprocess.run(
        ["git", "-C", REPO, "show", f"{BASE}:{relpath}"],
        capture_output=True, text=True, check=True,
    ).stdout
    path = f"/tmp/{name}_r06_before.py"
    with open(path, "w") as f:
        f.write(src)
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main():
    from pyspark.sql import functions as F

    from metagraph_spark import state as mstate
    from metagraph_spark.graph import build
    from metagraph_spark.session import get_spark

    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("plans-r06", master="local[8]", shuffle_partitions=8)
    random.seed(7)
    edges = [(random.randrange(400), random.randrange(400))
             for _ in range(1500)]
    df = spark.createDataFrame(edges, "src long, dst long").withColumn(
        "weight", F.lit(1.0)
    )
    g = build(df, is_directed=False)
    g_unw = build(df.select("src", "dst"), is_directed=False)

    def capture(fn, path, index=-1):
        mstate.PLAN_SINK = []
        try:
            fn()
            with open(os.path.join(OUT, path), "w") as f:
                f.write(mstate.PLAN_SINK[index])
        finally:
            mstate.PLAN_SINK = None
        print(f"wrote {path}")

    # --- LPA join round plan (bench big_lpa_3r / oracle lpa_fixed)
    lpa_old = old_module("metagraph_spark/operators/lpa.py", "lpa_before")
    import metagraph_spark.operators.lpa as lpa_new

    capture(lambda: lpa_old.label_propagation_community(
        g_unw, fixed_rounds=1, strategy="join").count(),
        "big_lpa_3r_before.txt")
    capture(lambda: lpa_new.label_propagation_community(
        g_unw, fixed_rounds=1, strategy="join").count(),
        "big_lpa_3r_after.txt")
    # the shuffle variant: the planner's broadcast cap below |V|
    from unittest import mock

    from metagraph_spark.operators import routing

    with mock.patch.object(routing, "BROADCAST_MAX_VERTICES", 0):
        capture(lambda: lpa_new.label_propagation_community(
            g_unw, fixed_rounds=1, strategy="join").count(),
            "big_lpa_3r_after_shuffle_variant.txt")

    # --- two-phase CC round plan (bench big_cc)
    comp_old = old_module(
        "metagraph_spark/operators/components.py", "components_before"
    )
    import metagraph_spark.operators.components as comp_new

    # index -2: the LAST capture is the final label extraction; -2 is the
    # closing round's rewritten edge set (the per-round plan)
    capture(lambda: comp_old._two_phase_cc(
        spark, g_unw.edges.select("src", "dst"), g_unw.node_ids(), 50),
        "big_cc_before.txt", index=-2)
    capture(lambda: comp_new._two_phase_cc(
        spark, g_unw.edges.select("src", "dst"), g_unw.node_ids(), 50),
        "big_cc_after.txt", index=-2)

    # --- katz fixed superstep plan (bench copurchase_katz_100iter)
    cent_old = old_module(
        "metagraph_spark/operators/centrality.py", "centrality_before"
    )
    import metagraph_spark.operators.centrality as cent_new

    capture(lambda: cent_old.katz_centrality(
        g, attenuation_factor=1e-4, fixed_iterations=2,
        strategy="join").count(),
        "copurchase_katz_100iter_before.txt")
    capture(lambda: cent_new.katz_centrality(
        g, attenuation_factor=1e-4, fixed_iterations=2,
        strategy="join").count(),
        "copurchase_katz_100iter_after.txt")

    # --- hope_katz series superstep (bench transcript_hope_katz_d16)
    emb_old = old_module(
        "metagraph_spark/operators/embedding.py", "embedding_before"
    )
    import metagraph_spark.operators.embedding as emb_new

    # before: captures run [nodes, omega, t1, t2, acc-merge, t3, ...] — 3/4
    # are a product superstep and the per-term accumulator MERGE join (the
    # shuffle this round removes); after: [nodes, omega, t1, t2, t3,
    # union-sum, ...] — 4/5 are a product superstep and the ONE series sum
    def capture_two(fn, path, i1, i2):
        mstate.PLAN_SINK = []
        try:
            fn()
            with open(os.path.join(OUT, path), "w") as f:
                f.write("==== product superstep ====\n")
                f.write(mstate.PLAN_SINK[i1])
                f.write("\n==== series accumulation ====\n")
                f.write(mstate.PLAN_SINK[i2])
        finally:
            mstate.PLAN_SINK = None
        print(f"wrote {path}")

    capture_two(lambda: emb_old.hope_katz_train(
        g, embedding_size=4, k_terms=3, power_iters=0).count(),
        "transcript_hope_katz_d16_before.txt", 3, 4)
    capture_two(lambda: emb_new.hope_katz_train(
        g, embedding_size=4, k_terms=3, power_iters=0).count(),
        "transcript_hope_katz_d16_after.txt", 4, 5)

    # --- ann bruteforce (bench ann_bruteforce_topk): no loop, plain explain
    sim_old = old_module(
        "metagraph_spark/functions/similarity.py", "similarity_before"
    )
    import metagraph_spark.functions.similarity as sim_new

    vecs = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.rand(seed=i + 1)).alias(f"x{i}") for i in range(8)]
                ).alias("embedding"),
    )
    qs = vecs.filter(F.col("vec_id") < 5)

    def explain_to(dfq, path):
        s = spark._jvm.PythonSQLUtils.explainString(
            dfq._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(OUT, path), "w") as f:
            f.write(s)
        print(f"wrote {path}")

    explain_to(sim_old.cosine_topk_bruteforce(vecs, qs, k=3),
               "ann_bruteforce_topk_before.txt")
    explain_to(sim_new.cosine_topk_bruteforce(vecs, qs, k=3),
               "ann_bruteforce_topk_after.txt")

    spark.stop()


if __name__ == "__main__":
    main()
