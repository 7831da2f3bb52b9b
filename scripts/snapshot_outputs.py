"""Snapshot every declared query's exact output for equivalence checks
during optimization rounds.

Usage:
  python scripts/snapshot_outputs.py dump /tmp/r06_golden [sf_dir ...]
  python scripts/snapshot_outputs.py check /tmp/r06_golden [sf_dir ...]
  (optionally: QUERY_NAMES="a,b,c" to restrict)

The session runs local[$SPARK_GRAFT_CPUS] (default: every core) with
``build_session``'s default driver memory.

Rows are collected, canonically sorted, and compared EXACTLY
(bit-for-bit floats) — stricter than the driver's hash check, so a
pass here guarantees the driver sees unchanged results.
"""

from __future__ import annotations

import os
import pickle
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

DEFAULT_SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def canon(df) -> tuple:
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = sorted(
        map(tuple, pdf.itertuples(index=False, name=None)),
        key=lambda r: tuple((v is None, str(type(v)), str(v)) for v in r),
    )
    schema = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    return (sorted(schema), cols, rows)


def main() -> None:
    mode, root = sys.argv[1], Path(sys.argv[2])
    sfs = sys.argv[3:] or DEFAULT_SFS
    only = os.environ.get("QUERY_NAMES")
    from addok_spark.session import build_session
    from addok_spark.entry_queries import QUERIES

    names = sorted(QUERIES) if not only else only.split(",")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = build_session(cores=cores, shuffle_partitions=96,
                          app_name="snapshot")
    root.mkdir(parents=True, exist_ok=True)
    bad = []
    for sf in sfs:
        tag = sf.rstrip("/").split("/")[-1]
        for name in names:
            key = f"{tag}__{name}"
            path = root / (key + ".pkl")
            try:
                got = canon(QUERIES[name](spark, sf))
            except Exception as exc:  # noqa: BLE001
                print(f"ERROR {key}: {exc}")
                bad.append(key)
                continue
            if mode == "dump":
                path.write_bytes(pickle.dumps(got))
                print(f"dumped {key}: {len(got[2])} rows")
            else:
                want = pickle.loads(path.read_bytes())
                if got != want:
                    # pinpoint the difference
                    msg = []
                    if got[0] != want[0]:
                        msg.append(f"schema {got[0]} != {want[0]}")
                    if len(got[2]) != len(want[2]):
                        msg.append(f"rows {len(got[2])} != {len(want[2])}")
                    else:
                        ndiff = sum(
                            1 for a, b in zip(got[2], want[2]) if a != b
                        )
                        msg.append(f"{ndiff} differing rows")
                        for a, b in zip(got[2], want[2]):
                            if a != b:
                                msg.append(f"  got  {a}\n  want {b}")
                                break
                    print(f"MISMATCH {key}: " + "; ".join(msg))
                    bad.append(key)
                else:
                    print(f"ok {key}: {len(got[2])} rows")
    spark.stop()
    if bad:
        print("FAILED:", bad)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
