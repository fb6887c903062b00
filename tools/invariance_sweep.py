"""Registry-wide partition-invariance sweep (round-7 verdict item 4,
promoted from a one-off commit to a standing preflight tool).

The driver runs our queries under ITS session config, so every result
must be identical under any shuffle partitioning — summation order,
partition-local ops, and bucket joins must not leak into values. This
sweep runs EVERY registered query twice (spark.sql.shuffle.partitions
5 vs 67, coprime and straddling the default 32) and compares the
order-insensitive canonicalized row sets.

Known exception (the registry's ONLY one, round-7 audited):
  qb37_kll_price_quantiles — KLL sketch merge order varies with the
  partition tree, so quantile estimates move within the sketch's rank
  -error bound. Rows-only by declared design; its error bound is
  audited by the qh16/qg06-style twins. Any OTHER variant query is a
  failure.

    python tools/invariance_sweep.py [sf_dir] [query ...]
"""

from __future__ import annotations

import gc
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# query -> why partition-variance is inherent and bounded (keep this
# list at ONE entry; a new entry needs a docstring-level error-bound
# audit like qb37's, not a mute)
KNOWN_VARIANT: dict[str, str] = {
    "qb37_kll_price_quantiles": (
        "KLL merge-tree order; rows-only by design; rank-error bound "
        "audited by qh16/qg06-style twins"
    ),
}

PARTITION_SETTINGS = ("5", "67")


def sweep(
    spark, sf_dir: str, names: list[str] | None = None, fns: dict | None = None
) -> tuple[list[str], list[str]]:
    """Returns (variant_names, error_names); empty lists = fully clean.

    `fns` (name -> callable(spark, sf_dir) -> DataFrame) overrides the
    registry — used by the planted-variant test to prove the sweep FIRES.
    """
    from tools.check_correctness import rows_key

    if fns is None:
        from pyspark_distributed_kmodes_spark.registry import load_all

        fns = {name: q.fn for name, q in load_all().items()}
    keys = names or sorted(fns)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    variants: list[str] = []
    errors: list[str] = []
    try:
        for i, name in enumerate(keys):
            fn = fns[name]
            t0 = time.time()
            try:
                seen = []
                for parts in PARTITION_SETTINGS:
                    spark.conf.set("spark.sql.shuffle.partitions", parts)
                    df = fn(spark, sf_dir)
                    seen.append(rows_key(df.columns, df.collect()))
                if seen[0] != seen[1]:
                    if name in KNOWN_VARIANT:
                        print(f"VARIANT (known)  {name}: {KNOWN_VARIANT[name]}")
                    else:
                        variants.append(name)
                        print(f"VARIANT  {name} ({time.time() - t0:.1f}s)")
                else:
                    print(f"ok   {name} ({time.time() - t0:.1f}s)  [{i + 1}/{len(keys)}]")
            except Exception:
                errors.append(name)
                print(f"ERR  {name}")
                traceback.print_exc(limit=3)
            gc.collect()  # release checkpointed blocks between queries
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return variants, errors


def main() -> int:
    from pyspark_distributed_kmodes_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    names = args[1:] or None
    spark = get_spark("invariance-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    variants, errors = sweep(spark, sf_dir, names)
    spark.stop()
    if variants or errors:
        print(f"\nFAIL — unexpected variants: {variants}  errors: {errors}")
        return 1
    print("\nOK — every swept query is partition-invariant "
          f"(known exceptions: {sorted(KNOWN_VARIANT)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
