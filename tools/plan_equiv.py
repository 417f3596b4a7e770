"""Plan-equivalence witness for the scaling evidence's pooling key.

The scaling sidecar pools best-per-leg runs by a byte-hash of the
engine source files (scaling_bench.ENGINE_FILES). That key moves on
ANY edit — including edits that add dead code to the measured job
(e.g. the round-4 opt-in ``quantiles="tdigest"`` branch). This tool
makes the "same executed job" claim checkable: it dumps the NORMALIZED
physical plans (expr ids, temp paths, plan ids, file locations
scrubbed) of exactly the DataFrames the scaling legs execute —
observed slim, the fused kernel pass that cuts the 1h+1d windows and
the Gorilla chunks, the engine's day-keyed 1m fan-out, and the
standalone chunk operator over the observed rows — on a fixed seed-42
synthetic input.

Reproduce a witness against an older revision:
    python tools/plan_equiv.py .          CUR.txt
    mkdir PREV && git archive <rev> | tar -x -C PREV
    python tools/plan_equiv.py PREV       PREV.txt
    diff PREV.txt CUR.txt        # empty => identical measured job

Results on record (canonical dump: BENCH/MEASURED_PLANS.txt):
- d800ca5e703d vs 56eaf25c9076 — diff EMPTY (the opt-in tdigest
  branch is dead in the measured job).
- 714b84f227ab vs 56eaf25c9076 — diff EMPTY, re-run 2026-08-18 16:00
  (the r4b tableio compaction additions are never called by the
  rollup legs; 394 normalized plan lines identical).
"""

from __future__ import annotations

import re
import sys


def main() -> None:
    repo = sys.argv[1] if len(sys.argv) > 1 else "."
    out = sys.argv[2] if len(sys.argv) > 2 else "MEASURED_PLANS.txt"
    sys.path.insert(0, repo)
    from chronoxtract_spark.operators.gapfill import gap_fill_minutes
    from chronoxtract_spark.plans.rollup import RollupEngine
    from chronoxtract_spark.session import get_spark
    from chronoxtract_spark.sources.tableio import temp_warehouse
    from chronoxtract_spark.synth import synth_transcripts

    spark = get_spark(
        app_name="plan_equiv", master="local[2]", shuffle_partitions=8
    )
    df = synth_transcripts(
        spark, n_conversations=40, seed=42, min_turns=40, max_turns=128
    )
    eng = RollupEngine(spark, temp_warehouse(spark))
    obs = eng.build_observed(df)

    texts = []

    def cap(name, d):
        s = d._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        s = re.sub(r"#\d+L?", "#N", s)
        s = re.sub(r"/tmp/\S+", "/TMP", s)
        s = re.sub(r"\[plan_id=\d+\]", "[plan_id=N]", s)
        s = re.sub(r"Location: \S+", "Location: X", s)
        texts.append(f"===== {name} =====\n{s}\n")

    cap("observed", obs)
    tiers = eng.build_rollup_tiers_kernel(obs)
    cap("tiers_kernel", tiers)
    cap("chunks_from_tiers", eng.chunks_from_tiers(tiers))
    cap("base_1m_dense", gap_fill_minutes(obs, len(eng._candidate_days(obs))))
    cap("chunks", eng.build_chunks(obs))
    with open(out, "w") as f:
        f.write("\n".join(texts))
    print(f"wrote {out} ({sum(t.count(chr(10)) for t in texts)} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
