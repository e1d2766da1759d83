#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the input statistics and every stage
artifact's row count and digest, per input content.

    python3 perfbench/derive_expected.py

For each input (sf01, and each replica perturbation pattern) it runs the
curation chain once through graft.Pipeline.main and digests the artifacts.
Where the DuckDB mirror (`SparkEntry.oracleSql`) is fast enough it runs too,
and its digest must equal Spark's; the entry is then marked `oracle`. The
replica inputs' dd_decisions and cur_verdict mirrors take far longer than
the sf0.1 ones (155 s and 196 s on a 4-core box), so those entries pin the
digests of the commit that ran this script and are marked `pinned`.
"""
import json
import os
import shutil
import sys

import duckdb

import check
import inputs
import run

SLOW_ORACLE = {"replica": {"dd_decisions", "cur_verdict"}, "sf01": set()}


def oracle_digests(sf_dir, sql):
    con = duckdb.connect()
    con.execute("SET memory_limit='4GB'")
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
    out = {s: check.digest(*check.canonical_rows(con.execute(q))) for s, q in sql.items()}
    con.close()
    return out


def main():
    classpath = run.build()
    scratch = os.path.join(run.WORK, "derive")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    sql_file = os.path.join(scratch, "oracle_sql.json")
    run.jvm(classpath, "perfbench.OracleDump", [sql_file, ",".join(run.CURATION)],
            os.path.join(scratch, "oracle.log"))
    sql = run.read_json(sql_file)
    seeds = {"sf01": 0}
    seeds.update({f"replica/{p}": p for p in range(inputs.PATTERNS)})
    expected = {}
    for key, seed in seeds.items():
        kind = key.split("/")[0]
        assert inputs.expected_key(kind, seed) == key
        sf_dir = os.path.join(scratch, key.replace("/", "-"))
        stats = inputs.generate(kind, seed, sf_dir)
        out = os.path.join(scratch, "out-" + key.replace("/", "-"))
        run.timed(classpath, sf_dir, out, run.CURATION, "chain")
        con = duckdb.connect()
        spark = {s: check.artifact_digest(con, os.path.join(out, "run", s))
                 for s in run.CURATION}
        con.close()
        fast = {s: q for s, q in sql.items() if s not in SLOW_ORACLE[kind]}
        oracle = oracle_digests(sf_dir, fast)
        stages = {}
        for s in run.CURATION:
            if s in oracle and oracle[s] != spark[s]:
                sys.exit(f"{key} {s}: Spark {spark[s]} differs from the oracle {oracle[s]}")
            stages[s] = dict(spark[s], source="oracle" if s in oracle else "pinned")
        expected[key] = {"input": stats, "stages": stages}
        print(key, json.dumps(expected[key]), flush=True)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(scratch)


if __name__ == "__main__":
    main()
