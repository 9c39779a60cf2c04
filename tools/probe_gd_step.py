"""Attribute text_quality_train's residual per-step cost (r15,
VERDICT item 1): is the ~0.19 s/step warm floor the decimal aggregate
EXECUTION, or per-step plan overhead (parse/analyze/optimize + Janino
codegen of a plan whose literal weights change every step)?

Probes, over the same checkpointed 10x feature frame the trainer uses:
  A. current form — literal weights, values CHANGE per step (every
     step is a brand-new codegen source -> Janino compiles per step);
  B. literal weights, values CONSTANT across steps (identical source
     -> Janino source-cache hit; isolates compile cost = A - B);
  C. weights from a broadcast 1-row DataFrame (source constant across
     steps even though values change -> compile once, the candidate
     fix if A - B dominates).

    python tools/probe_gd_step.py [--sf-dir DIR] [--steps 24] [--width 4]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".scaledata", "sf1"))
    ap.add_argument("--steps", type=int, default=24)
    ap.add_argument("--width", type=int, default=4)
    args = ap.parse_args()

    from unified_log_aggregation_and_analytics_spark.operators.text import (
        QF_MAX_DUP_BIGRAM_FRAC,
        QF_MAX_DUP_WORD_FRAC,
        QF_MAX_TOP_WORD_FRAC,
        QF_MIN_TOKENS,
        repetition_stats,
    )

    spark = get_spark("probe-gd-step")
    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    rep = repetition_stats(docs, "text", "doc_id")
    y = (
        (F.col("n_tokens") >= QF_MIN_TOKENS)
        & (F.col("dup_word_frac") <= QF_MAX_DUP_WORD_FRAC)
        & (F.col("top_word_frac") <= QF_MAX_TOP_WORD_FRAC)
        & (F.col("dup_bigram_frac") <= QF_MAX_DUP_BIGRAM_FRAC)
    ).cast("double")
    feats = rep.select(
        F.col("doc_id"),
        F.lit(1.0).alias("x0"),
        (F.least(F.col("n_tokens"), F.lit(200)) / F.lit(200.0)).alias("x1"),
        F.col("dup_word_frac").alias("x2"),
        F.col("top_word_frac").alias("x3"),
        F.col("dup_bigram_frac").alias("x4"),
        y.alias("y"),
    ).coalesce(args.width).localCheckpoint()
    n_rows = feats.count()
    xs = ["x0", "x1", "x2", "x3", "x4"]
    lr = 1.0

    def step_exprs_literal(w):
        z_sql = "(" + " + ".join(
            f"({w[j]!r}D * {xs[j]})" for j in range(len(xs))
        ) + ")"
        p_sql = f"round(0.5D + {z_sql}/(2.0D*(1.0D + abs({z_sql}))), 6)"
        e_sql = f"({p_sql} - y)"
        return [
            F.expr(
                f"round({w[j]!r}D - {lr!r}D*("
                f"CAST(sum(CAST(round({e_sql} * {xs[j]}, 9) "
                f"AS DECIMAL(20,9))) AS DOUBLE)/count(1)), 6) AS w{j}"
            )
            for j in range(len(xs))
        ]

    # C: column-weight expressions — built ONCE, reused every step
    zc = "(" + " + ".join(f"(_w{j} * {xs[j]})" for j in range(len(xs))) + ")"
    pc = f"round(0.5D + {zc}/(2.0D*(1.0D + abs({zc}))), 6)"
    ec = f"({pc} - y)"
    col_exprs = [
        F.expr(
            f"round(first(_w{j}) - {lr!r}D*("
            f"CAST(sum(CAST(round({ec} * {xs[j]}, 9) "
            f"AS DECIMAL(20,9))) AS DOUBLE)/count(1)), 6) AS w{j}"
        )
        for j in range(len(xs))
    ]
    wschema = ", ".join(f"_w{j} double" for j in range(len(xs)))

    def run_A():
        w = [0.0] * len(xs)
        for _ in range(args.steps):
            row = feats.agg(*step_exprs_literal(w)).first()
            w = [float(row[f"w{j}"]) for j in range(len(xs))]
        return w

    def run_B():
        w = [0.1, 0.2, -0.3, 0.4, -0.5]  # fixed: identical source every step
        out = None
        for _ in range(args.steps):
            out = feats.agg(*step_exprs_literal(w)).first()
        return [float(out[f"w{j}"]) for j in range(len(xs))]

    def run_C():
        w = [0.0] * len(xs)
        for _ in range(args.steps):
            wrow = spark.createDataFrame([tuple(w)], schema=wschema)
            row = feats.crossJoin(F.broadcast(wrow)).agg(*col_exprs).first()
            w = [float(row[f"w{j}"]) for j in range(len(xs))]
        return w

    results = {}
    trajs = {}
    for name, fn in (("A_literal_changing", run_A),
                     ("B_literal_constant", run_B),
                     ("C_broadcast_weights", run_C)):
        fn()  # warmup pass (codegen of the first step)
        times = []
        for _ in range(3):
            t0 = time.time()
            trajs[name] = fn()
            times.append(time.time() - t0)
        results[name] = [round(t, 3) for t in sorted(times)]

    print(f"rows={n_rows} width={args.width} steps={args.steps}")
    for k, v in results.items():
        print(f"{k}: min={v[0]} runs={v}")
    print("final weights A:", trajs["A_literal_changing"])
    print("final weights C:", trajs["C_broadcast_weights"])
    print("A == C trajectory-final:",
          trajs["A_literal_changing"] == trajs["C_broadcast_weights"])


if __name__ == "__main__":
    main()
