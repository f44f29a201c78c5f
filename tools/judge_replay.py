"""One-command replay of the driver's correctness protocol: register
DuckDB views over a sf dir, run any registry query on BOTH engines, and
emit a CORRECTNESS-style record per query — rows_match / schema_match /
hash_match / spark_rows / oracle_rows / err — using the driver's
canonicalization (columns sorted BY NAME, rows sorted, values hashed),
so an independent audit needs no code of its own and its artifact diffs
directly against the records that protocol keeps.

This intentionally duplicates none of tools/selfcheck.py's
field-by-field diagnostics: selfcheck explains WHY a query diverges;
judge_replay reproduces WHAT the driver records.

Usage:
    PYTHONPATH=/root/repo python tools/judge_replay.py [sf_dir] [query ...]

With no query names, replays the whole registry in registration order.
Output: one JSON object keyed by query name (stdout), driver artifact
shape.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def load_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _cell(v) -> str:
    if hasattr(v, "item") and type(v).__module__.startswith("numpy"):
        v = v.item()  # np.float64 repr is 'np.float64(1.5)' in numpy 2
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\x00"
    if isinstance(v, float):
        # one canonical float text for both engines (repr is shortest
        # round-trip; -0.0 folds to 0.0 so sign-of-zero never splits)
        if v == 0.0:
            v = 0.0
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def value_hash(pdf: pd.DataFrame) -> str:
    """Driver-style canonical hash: columns sorted by NAME, every cell
    rendered to text, rows sorted lexicographically, md5 over the
    row-joined text."""
    cols = sorted(pdf.columns)
    rows = [
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return hashlib.md5("\x1e".join(rows).encode("utf-8", "surrogatepass")).hexdigest()


def replay(name: str, spec, spark, con, sf_dir: str) -> dict:
    rec = {
        "rows_match": False, "schema_match": False, "hash_match": False,
        "spark_rows": None, "oracle_rows": None, "err": None,
    }
    try:
        sdf = spec.fn(spark, sf_dir).toPandas()
        rec["spark_rows"] = len(sdf)
    except Exception as e:  # noqa: BLE001 — replay records, never dies
        rec["err"] = f"spark: {type(e).__name__}: {e}"[:500]
        return rec
    if spec.oracle is None:
        rec["err"] = "no_oracle"
        return rec
    try:
        ddf = con.execute(spec.oracle).df()
        rec["oracle_rows"] = len(ddf)
    except Exception as e:  # noqa: BLE001
        rec["err"] = f"duckdb: {type(e).__name__}: {e}"[:500]
        return rec
    rec["rows_match"] = len(sdf) == len(ddf)
    rec["schema_match"] = sorted(sdf.columns) == sorted(ddf.columns)
    if rec["rows_match"] and rec["schema_match"]:
        rec["hash_match"] = value_hash(sdf) == value_hash(ddf)
    return rec


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    names = [a for a in args if not os.path.isdir(a)]

    from query_engine_spark.session import get_spark
    from query_engine_spark import registry
    from query_engine_spark.llmdata import clear_llmdata_cache

    spark = get_spark("judge_replay")
    con = load_duck(sf_dir)

    names = names or list(registry.REGISTRY)

    out: dict[str, dict] = {}
    t0 = time.time()
    for name in names:
        if name not in registry.REGISTRY:
            out[name] = {"err": "unknown query"}
            continue
        clear_llmdata_cache()
        out[name] = replay(name, registry.REGISTRY[name], spark, con, sf_dir)
        ok = out[name]["hash_match"] or out[name]["err"] == "no_oracle"
        print(
            f"{'PASS' if ok else 'FAIL'} {name} "
            f"rows={out[name]['spark_rows']}",
            file=sys.stderr,
        )
    n_bad = sum(
        1 for r in out.values()
        if not (r.get("hash_match") or r.get("err") == "no_oracle")
    )
    print(json.dumps(out, indent=1))
    print(
        f"# {len(out)} queries, {n_bad} not hash-green, "
        f"{time.time()-t0:.0f}s",
        file=sys.stderr,
    )
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
