"""Physical-plan hygiene audit — regenerates the evidence tables in PLANS.md.

For each audited catalog query: predicates pushed into the parquet scan,
column-pruned scan widths, join strategies, and exchange counts, from
``.explain("formatted")`` text.  Planning only (no job execution) on a tiny
local session, so it is cheap to re-run after any operator change:

    python scripts/plan_audit.py [query ...]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

DEFAULT = [
    "pricing_summary", "top_customer_per_nation", "eval_metrics",
    "date_buckets", "prefix_join", "ann_bruteforce", "dedup_minhash_lsh",
    "text_stats", "history_page", "history_keyset", "ann_ivf_fitted",
    "ann_ivf_nprobe", "dedup_simhash", "sample_split", "pack_sequences",
    "quality_repetition", "pii_mask", "events_asof", "events_sessionize",
    "events_sessionize_salted", "dedup_incremental", "training_mix",
    "length_quantiles", "quality_perplexity", "dedup_spans",
    "dedup_spans_clean", "extract_pipeline_fused", "extract_pipeline_pixels",
]


def fmt(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def audit(spark, name: str, df, patterns: tuple[str, ...] = ()) -> str:
    s = fmt(spark, df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", s)
    widths = [len(m.split(",")) if m.strip() else 0
              for m in re.findall(r"ReadSchema: struct<([^>]*)>", s)]
    print(f"== {name}")
    nonempty = [p for p in pushed if p.strip()]
    if nonempty:
        print(f"   pushedFilters: {nonempty}")
    if widths:
        print(f"   readSchema cols: {widths}")
    scans = len(re.findall(r"^\(\d+\) Scan ", s, re.M))
    print(f"   scans={scans} broadcastJoins={s.count('BroadcastHashJoin')} "
          f"sortMergeJoins={s.count('SortMergeJoin')} "
          f"exchanges={s.count('Exchange')} "
          f"(reused {s.count('ReusedExchange')})")
    if "TakeOrderedAndProject" in s:
        print("   TakeOrderedAndProject: yes")
    for pat in patterns:
        print(f"   '{pat}' occurrences: {len(re.findall(pat, s))}")
    return s


def main() -> None:
    from apple_ocr_backend_spark.plans.catalog import catalog
    from apple_ocr_backend_spark.session import get_spark

    names = sys.argv[1:] or DEFAULT
    sf = "/root/testdata/sf0.01"
    spark = get_spark(master="local[2]", shuffle_partitions=4)
    extra = {"ann_ivf_fitted": (r"transform\(",),
             "dedup_simhash": (r"Join",)}
    try:
        cat = catalog()
        for name in names:
            audit(spark, name, cat[name]["spark"](spark, sf),
                  extra.get(name, ()))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
