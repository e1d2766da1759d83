"""Order-independent artifact digests.

Canonicalization follows tools/check_oracle.py: columns sorted by name,
floats rounded to 6 places, every value as `str`, rows sorted. The digest
is sha256 over the sorted rows, so it does not depend on row order or on
how Spark partitioned the artifact.
"""
import hashlib
import os

import duckdb


def canonical_rows(cursor):
    cols = [d[0] for d in cursor.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = []
    for r in cursor.fetchall():
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(str(v))
        rows.append("|".join(vals))
    rows.sort()
    return [cols[i] for i in order], rows


def digest(cols, rows):
    h = hashlib.sha256(",".join(cols).encode())
    for r in rows:
        h.update(b"\n")
        h.update(r.encode())
    return {"rows": len(rows), "digest": h.hexdigest()}


def artifact_digest(con, path):
    return digest(*canonical_rows(
        con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")))


def failed_stages(run_dir, stages, expected):
    """Stages whose artifact under `run_dir` is missing or differs from its
    expected row count and digest."""
    con = duckdb.connect()
    con.execute("SET threads=1")
    failed = []
    for stage in stages:
        path = os.path.join(run_dir, stage)
        try:
            got = artifact_digest(con, path)
        except (duckdb.Error, OSError):
            got = None
        want = expected[stage]
        if got is None or got["rows"] != want["rows"] or got["digest"] != want["digest"]:
            failed.append(stage)
    con.close()
    return failed
