"""Local oracle-parity checker — mimics the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at a given sf dir, then compares:

- row count
- column names (sorted)
- order-insensitive value hash (canonicalized cell strings, rows sorted)

Usage:  python tools/check_parity.py [sf_dir] [query ...]

Each ``query`` is an exact registry name or an ``fnmatch`` pattern, e.g.
``python tools/check_parity.py <sf_dir> 'streaming_*' '*_from_store'``.
"""

from __future__ import annotations

import fnmatch
import hashlib
import sys
import time
import traceback

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from kinesis_dstream_spark.session import get_spark  # noqa: E402
from kinesis_dstream_spark.tables import TABLES  # noqa: E402


def canon_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if v != v:
            return "<nan>"
        # normalize -0.0 and integral floats
        if v == int(v) and abs(v) < 1e15:
            return str(int(v) + 0)
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v)
    return str(v)


def frame_fingerprint(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


# Vacuity-gate allowlist (r11): queries whose CORRECT answer is empty
# at a given fixture scale. Entries must name the scale and the reason;
# a query may never be allowlisted at sf0.01 (the driver's correctness
# scale) — re-parameterize it instead (the user_survival_km lesson).
_VACUOUS_OK: dict[str, dict[str, str]] = {
    "sf0.001": {
        # TPC-H selectivity vs a ~60-row supplier table: these three
        # queries' multi-way predicates select no surviving group at
        # the smallest scale; all three return rows at sf0.01+ (r10
        # judge sweep) so the gate still has teeth where the driver
        # checks.
        "q7_volume_shipping": "nation-pair shipping filter empty at tiny SF",
        "q11_important_part_value": "value-share threshold empty at tiny SF",
        "q20_excess_stock_suppliers": "half-of-qty filter empty at tiny SF",
    },
    "sf0.1": {
        # TPC-H Q11's share threshold is spec-defined as FRACTION/SF —
        # the registry pins the sf0.01-calibrated 0.001, so at 10× the
        # parts each part's share falls below it and the CORRECT answer
        # is empty (verified in DuckDB: 376 rows at sf0.01, 0 at
        # sf0.1). The driver's correctness scale (sf0.01) stays
        # non-vacuous, which is what the gate exists to protect.
        "q11_important_part_value": "fixed value-share threshold vs 10× parts",
    },
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    patterns = sys.argv[2:]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    spark = get_spark("parity-check")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    n_pass = n_fail = n_rowsonly = 0
    failed: list[str] = []
    for name, fn in qs.items():
        if patterns and not any(fnmatch.fnmatchcase(name, p) for p in patterns):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            failed.append(name)
            continue
        dt_spark = time.time() - t0
        if name not in oracles:
            print(f"rows-only {name}: {len(srows)} rows  [{dt_spark:.1f}s]")
            n_rowsonly += 1
            continue
        t0 = time.time()
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            failed.append(name)
            continue
        dt_duck = time.time() - t0

        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            hs = frame_fingerprint(scols, srows)
            hd = frame_fingerprint(dcols, drows)
            if hs != hd:
                problems.append("value-hash mismatch")
                # show a few differing rows for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                set_s = {tuple(canon_cell(r[i]) for i in order_s) for r in srows}
                set_d = {tuple(canon_cell(r[i]) for i in order_d) for r in drows}
                for r in list(set_s - set_d)[:3]:
                    print(f"   spark-only: {r}")
                for r in list(set_d - set_s)[:3]:
                    print(f"   duck-only:  {r}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}  [{dt_spark:.1f}s/{dt_duck:.1f}s]")
            n_fail += 1
            failed.append(name)
        elif len(srows) == 0:
            # Vacuity gate (r10 judge finding #1): a 0-row oracle pair
            # hash-matches trivially and certifies nothing about the
            # operator's math. Fail it so no exhibit can pass vacuously;
            # an operator whose CORRECT answer is empty at this scale
            # must be re-parameterized (param twin) — or, for tiny-SF-
            # only emptiness, allowlisted with a reason in _VACUOUS_OK.
            sf_key = sf_dir.rstrip("/").rsplit("/", 1)[-1]
            reason = _VACUOUS_OK.get(sf_key, {}).get(name)
            if reason is not None:
                print(
                    f"PASS {name}: 0 rows (vacuous-allowlisted at {sf_key}: "
                    f"{reason})  [{dt_spark:.1f}s/{dt_duck:.1f}s]"
                )
                n_pass += 1
            else:
                print(
                    f"FAIL {name}: VACUOUS (0 rows on both sides — hash "
                    f"match proves nothing)  [{dt_spark:.1f}s/{dt_duck:.1f}s]"
                )
                n_fail += 1
                failed.append(name + " (vacuous)")
        else:
            print(
                f"PASS {name}: {len(srows)} rows  [spark {dt_spark:.1f}s, duck {dt_duck:.1f}s]"
            )
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    if failed:
        print("failed: " + ", ".join(failed))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
