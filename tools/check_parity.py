#!/usr/bin/env python3
"""Spot parity check: run named registry queries against their DuckDB
oracles (the driver's compare, via tests/oracle_harness.py).

Usage: python3 tools/check_parity.py [--sf DIR] name1 name2 ...
       python3 tools/check_parity.py [--sf DIR] --all   # every registry query

Names are checked against the registry before any Spark session
starts; an unknown name exits with status 2.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> None:
    sf_dir = "/root/testdata/sf0.01"
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=sf_dir, metavar="DIR",
                    help="directory of the parquet tables (default: %(default)s)")
    ap.add_argument("--all", action="store_true", help="check every registered query")
    ap.add_argument("names", nargs="*", help="registered query names")
    args = ap.parse_args()
    if args.all and args.names:
        ap.error("pass --all or query names, not both")
    if not (args.all or args.names):
        ap.error("name at least one query, or pass --all")

    from namegraph_collections_spark.queries import REGISTRY

    unknown = [n for n in args.names if n not in REGISTRY]
    if unknown:
        ap.error(f"unknown queries: {' '.join(unknown)}")
    names = list(REGISTRY) if args.all else args.names

    from oracle_harness import compare

    from namegraph_collections_spark.session import get_spark

    spark = get_spark("ngcs-parity")
    bad = []
    for name in names:
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            r = compare(spark, args.sf, name, REGISTRY[name].fn, REGISTRY[name].oracle)
            ok = r.get("ok")
        except Exception as e:  # noqa: BLE001
            r, ok = {"error": f"{type(e).__name__}: {e}"}, False
        dt = round(time.time() - t0, 1)
        print(f"{'OK ' if ok else 'BAD'} {name} rows={r.get('spark_rows')} {dt}s"
              + ("" if ok else f" detail={str(r)[:500]}"))
        if not ok:
            bad.append(name)
    print("BAD:", bad)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
