"""Full local replica of the driver's CORRECTNESS gate, over EVERY
registered query (the driver itself records only the first 50 in
registration order).

Writes CORRECTNESS_FULL_r{N}.json next to the repo root: one row per
catalog query with rows/schema/value-hash status against the DuckDB oracle
at sf0.01 — the committed evidence for queries the driver's 50-entry
window can't reach. Each row also carries `value_hash`, a sha256 of the
Spark output's sorted column names and canonical rows (the rows the
oracle comparison sorts and stringifies), so the files of two trees can
be diffed query by query, the queries without an oracle included. Run:

    python tools/full_oracle_check.py [--sf-dir /root/testdata/sf0.01] \
        [--out CORRECTNESS_FULL_r03.json]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from mapreducer_pi_cs4433_spark.queries.catalog import (  # noqa: E402
    ORACLE,
    QUERIES,
    validate_oracle_types,
)
from mapreducer_pi_cs4433_spark.schemas import DRIVER_TABLES  # noqa: E402
from mapreducer_pi_cs4433_spark.session import get_spark  # noqa: E402


def _norm_cell(v, float_col: bool) -> str:
    if v is None or v is pd.NA:
        return "\0NULL"
    if isinstance(v, float) and math.isnan(v):
        # In a float64 column pandas has ALREADY folded NULL -> NaN on
        # ingest, so the NULL/NaN distinction is unrecoverable there and
        # one sentinel is forced (documented conflation). In object-dtype
        # columns the distinction survives pandas — keep it, so a genuine
        # cross-engine NaN-vs-NULL divergence fails the gate (ADVICE r4).
        return "\0NULL" if float_col else "\0NAN"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return repr(v)  # full precision: floats must match BIT-exactly
    return str(v)


def _canon(rows, cols):
    """DRIVER-FAITHFUL canonicalization (r3 lesson). The driver compares
    engines by loading both results into pandas, ordering columns by name,
    and multi-column sort_values — whose lexsort FACTORIZES each column
    through a hash table, so an unhashable cell (list/dict from an
    Array/Map/Struct column) raises `TypeError: unhashable type` and the
    driver records the query as an error. The old local gate stringified
    cells BEFORE sorting, which green-lit exactly the queries the driver
    rejects (olap_customer_order_years, r3). Routing the comparison
    through the same pandas path makes the local gate predict the
    driver's verdict: crash parity AND value parity (floats normalized by
    repr => bit-exact requirement, NULL/NaN folded to one sentinel)."""
    df = pd.DataFrame(list(rows), columns=list(cols))
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        # multi-column sort_values is the driver's factorize path; it is
        # deliberately NOT wrapped in try/except — a TypeError here IS the
        # driver's failure mode and must surface as one
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    float_cols = [
        pd.api.types.is_float_dtype(df[c].dtype) for c in df.columns
    ]
    out = [
        tuple(_norm_cell(v, fc) for v, fc in zip(row, float_cols))
        for row in df.itertuples(index=False, name=None)
    ]
    # final normalized sort: dtype-dependent placement (NaN-last vs the
    # NULL sentinel's byte order) must not flip a value-identical pair of
    # results into a false mismatch
    out.sort()
    return out


def _value_hash(cols, canon_rows) -> str:
    return hashlib.sha256(
        json.dumps([sorted(cols), canon_rows]).encode()
    ).hexdigest()


def _default_out() -> str:
    """Derive the current round from the driver's committed
    CORRECTNESS_r{N}.json artifacts so a no-arg run can never clobber a
    PRIOR round's FULL evidence (ADVICE r4: the hardcoded r03 default
    would have silently overwritten the committed r3 artifact)."""
    import glob
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(p)))
    ]
    n = max(rounds, default=0) + 1
    return f"CORRECTNESS_FULL_r{n:02d}.json"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=_default_out())
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query names: check just these (iteration aid; "
        "the committed artifact must come from a no-filter run)",
    )
    args = ap.parse_args()

    spark = get_spark("full-oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    # Type-level guard FIRST (r6 lesson): an uncast HUGEINT or a bare
    # boolean in an oracle's output binds in milliseconds and predicts a
    # driver hash-fail — refuse to even start the row comparison.
    type_violations = validate_oracle_types(con)
    if type_violations:
        for tv in type_violations:
            print(f"FORBIDDEN ORACLE OUTPUT TYPE: {tv}", file=sys.stderr)
        sys.exit(2)

    only = set(args.only.split(",")) if args.only else None
    results: dict[str, dict] = {}
    n_fail = 0
    for name, fn in QUERIES.items():
        if only is not None and name not in only:
            continue
        row = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "value_hash": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sdf = fn(spark, args.sf_dir)
            s_rows = [tuple(r) for r in sdf.collect()]
            row["spark_rows"] = len(s_rows)
            s_canon = _canon(s_rows, sdf.columns)
            row["value_hash"] = _value_hash(sdf.columns, s_canon)
            if name not in ORACLE:
                row["err"] = "no_oracle"
            else:
                rel = con.sql(ORACLE[name])
                # DRIVER-FAITHFUL fetch (r6 lesson, the DuckDB mirror of the
                # r3 Spark-side fix): the driver materializes the oracle
                # through pandas, where DuckDB 1.0.0 renders HUGEINT (e.g.
                # an uncast windowed integer SUM) as float64 — fetchall()'s
                # Python ints masked exactly that coercion and green-lit the
                # scd2_user_type_history red row. rel.df() reproduces the
                # driver's dtype view bit-for-bit.
                ddf = rel.df()
                d_rows = list(ddf.itertuples(index=False, name=None))
                row["oracle_rows"] = len(d_rows)
                row["rows_match"] = len(s_rows) == len(d_rows)
                row["schema_match"] = sorted(sdf.columns) == sorted(rel.columns)
                row["hash_match"] = s_canon == _canon(d_rows, list(rel.columns))
                if not all(
                    (row["rows_match"], row["schema_match"], row["hash_match"])
                ):
                    n_fail += 1
        except Exception as ex:  # record, keep going
            row["err"] = f"{type(ex).__name__}: {ex}"[:500]
            n_fail += 1
        results[name] = row
        status = row["err"] or ("ok" if row["hash_match"] else "rows-only")
        print(f"{name}: {status}", file=sys.stderr)

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), args.out), "w") as fh:
        json.dump(results, fh, indent=2)
    print(f"{len(results)} queries, {n_fail} failures -> {args.out}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
