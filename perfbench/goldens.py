"""Record and cross-check the benchmark's golden digests.

    python3 perfbench/goldens.py record
        Run every workload query twice in one session on the benchmark's
        fixtures, check that both runs give the same digest, and write
        ``perfbench/goldens.json``. Before writing, each query's result is
        compared with DuckDB running ``oracle_sql()`` on the same fixtures.

    python3 perfbench/goldens.py oracle FIXTURE_DIR [QUERY ...]
        Compare the named workload queries (default: all) with DuckDB on
        another fixture directory; prints MATCH or MISMATCH per query and
        exits 1 on any mismatch.

The oracle comparison is the one ``tools/driver_sim.py`` makes: row
count, column set and a hash of the sorted, normalized rows.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)


def _design() -> dict:
    with open(os.path.join(HERE, "design.json")) as f:
        return json.load(f)


def _workload_queries(design: dict) -> list[str]:
    seen: dict[str, None] = {}
    for w in design["workloads"].values():
        seen.update(dict.fromkeys(w["queries"]))
    return list(seen)


def _session(design: dict, tmp: str):
    from run import _configure_env

    _configure_env(design, trace=False, tmp=tmp)
    from incubator_flink_old_spark import get_spark
    from incubator_flink_old_spark.queries import ORACLES, QUERIES, load_all_queries

    load_all_queries()
    return get_spark("perfbench-goldens"), QUERIES, ORACLES


def _stop(spark) -> None:
    from procfs import ProcessTree
    from run import _stop_engine

    _stop_engine(spark, ProcessTree())


def _oracle_check(spark, queries, oracles, names, sf_dir) -> dict[str, str]:
    import duckdb

    from tools.driver_sim import TABLES, value_hash

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for name in names:
        df = queries[name](spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        cur = con.execute(oracles[name])
        cols = [d[0] for d in cur.description]
        exp = cur.fetchall()
        ok = (
            len(rows) == len(exp)
            and sorted(df.columns) == sorted(cols)
            and value_hash(df.columns, rows) == value_hash(cols, exp)
        )
        out[name] = "MATCH" if ok else "MISMATCH"
        print(f"{out[name]} {name} rows {len(rows)}/{len(exp)}", flush=True)
    return out


def record(design: dict, tmp: str) -> int:
    from run import digest

    spark, queries, oracles = _session(design, tmp)
    sf_dir = os.path.join(HERE, design["environment"]["fixtures"])
    names = _workload_queries(design)
    digests, unstable = {}, []
    for name in names:
        runs = []
        for _ in range(2):
            row = digest(queries[name](spark, sf_dir)).collect()[0]
            runs.append([row["n"], row["s"]])
        if runs[0] != runs[1]:
            unstable.append(name)
            print(f"UNSTABLE {name}: {runs}", flush=True)
        digests[name] = runs[0]
        print(f"DIGEST {name} n={runs[0][0]} d={runs[0][1]}", flush=True)
    checks = _oracle_check(spark, queries, oracles, names, sf_dir)
    _stop(spark)
    bad = unstable + [n for n, v in checks.items() if v != "MATCH"]
    if bad:
        print(f"not writing goldens: {bad}", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "goldens.json"), "w") as f:
        json.dump(
            {
                "fixtures": design["environment"]["fixtures"],
                "digest": "[row count, sum(xxhash64(row string)) mod 2^61 summed]",
                "digests": digests,
                "oracle_checked": checks,
            },
            f,
            indent=1,
        )
        f.write("\n")
    return 0


def main(argv: list[str]) -> int:
    design = _design()
    tmp = os.path.join(ROOT, ".perfbench", f"tmp-{os.getpid()}")
    try:
        if argv[:1] == ["record"]:
            return record(design, tmp)
        if argv[:1] == ["oracle"] and len(argv) >= 2:
            spark, queries, oracles = _session(design, tmp)
            names = argv[2:] or _workload_queries(design)
            checks = _oracle_check(spark, queries, oracles, names, os.path.abspath(argv[1]))
            _stop(spark)
            return 0 if all(v == "MATCH" for v in checks.values()) else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
