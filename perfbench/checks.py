"""Output checks, run after the timed region.

Pipeline workloads: every expected value comes from gen_inbox.model(), the
generator's own rows, never from the program's output. Query workloads:
each result is compared with its SparkEntry.oracleSql DuckDB twin under
the rules scripts/check.py applies (sorted columns, strict dtypes, row
count, exact values after sorting rows).

Each check function returns {check name: [failure strings]}; a check
passed when its list is empty.
"""
import glob
import json
import os

import duckdb

import gen_inbox

PK = "facility_number"
STAMPS = {"row_id", "etl_date"}
SCD_COLS = {"effective_from", "effective_to", "is_current"}
QUALITY_KEY = "qm_key"


def _rows(con, path, cols):
    sel = ", ".join(f'"{c}"' for c in cols)
    return con.sql(
        f"SELECT {sel} FROM read_parquet('{path}/*.parquet')").fetchall()


def _columns(con, path):
    return [r[0] for r in con.sql(
        f"DESCRIBE SELECT * FROM read_parquet('{path}/*.parquet')").fetchall()]


def _clean(v):
    """A raw generator cell as the program must store it."""
    v = v.strip(" ")
    return v if v else None


def _expect(release, dim):
    """Expected rows of one dimension, keyed, as {key: {col: value}}, with
    the columns the generator knows for it."""
    providers = release["providers"]
    if dim == "qualitymsr_mds":
        return {(r[PK], r["measure_code"]): {c: _clean(v) for c, v in r.items()}
                for r in release["quality"]}
    return {(p[PK],): {c: _clean(v) for c, v in p.items()} for p in providers}


def _compare(name, got_cols, got_rows, expected, key_cols, errors, limit=5):
    """Every generator-known column of every row equals the release."""
    cols = [c for c in got_cols if c in next(iter(expected.values()))]
    if len(cols) <= len(key_cols):
        errors.append(f"{name}: no generator columns among {got_cols}")
        return
    idx = {c: got_cols.index(c) for c in cols}
    seen = set()
    bad = 0
    for r in got_rows:
        key = tuple(r[idx[c]] for c in key_cols)
        seen.add(key)
        exp = expected.get(key)
        if exp is None:
            errors.append(f"{name}: unexpected key {key}")
            continue
        for c in cols:
            if r[idx[c]] != exp[c]:
                bad += 1
                if bad <= limit:
                    errors.append(f"{name}: key {key} column {c}: "
                                  f"{r[idx[c]]!r} != {exp[c]!r}")
    missing = set(expected) - seen
    if missing:
        errors.append(f"{name}: {len(missing)} keys missing, e.g. "
                      f"{sorted(missing)[:3]}")
    if bad > limit:
        errors.append(f"{name}: {bad} mismatched cells in all")


def _changed_keys(m, cols):
    d1 = {p[PK]: p for p in m["day1"]["providers"]}
    return {p[PK] for p in m["day2"]["providers"]
            if p[PK] in d1 and any(_clean(p[c]) != _clean(d1[p[PK]][c])
                                   for c in cols)}


def expected_counts(m, day):
    """Rows per dimension after the load of `day`, from the generator."""
    rel = m[day]
    n_surv, n_pen = {}, {}
    for r in rel["surveys"]:
        n_surv[r[PK]] = n_surv.get(r[PK], 0) + 1
    for r in rel["penalties"]:
        n_pen[r[PK]] = n_pen.get(r[PK], 0) + 1
    ps = [p[PK] for p in rel["providers"]]
    return {
        "facility": len(ps),
        "qualitymsr_mds": len(rel["quality"]),
        # the transforms left-join the provider split with the side files
        "surveys": sum(max(1, n_surv.get(p, 0)) for p in ps),
        "penalties": sum(max(1, n_pen.get(p, 0)) for p in ps),
    }


def merge_rows(m):
    """(rows in the warehouse before the day-2 merges, source rows the
    day-2 release changes or adds), both from the generator."""
    c = expected_counts(m, "day1")
    n = len(m["day1"]["providers"])
    touched = len(m["changed"]) + len(m["new"])
    # provider rows, their quality rows, and the new providers' surveys
    return (sum(c.values()) + 2 * n,
            touched * (1 + len(gen_inbox.QUALITY_MEASURES))
            + len(m["new"]) * gen_inbox.SURVEYS_PER_PROVIDER)


def check_pipeline(iter_dir, m, daily, load_date):
    """Checks the lake and warehouse one load left behind."""
    day = "day2" if daily else "day1"
    rel = m[day]
    lake = os.path.join(iter_dir, "lake")
    wh = os.path.join(iter_dir, "warehouse")
    con = duckdb.connect()
    con.sql("SET threads=2")
    res = {k: [] for k in ("trimmed", "error_zone", "row_counts",
                           "scd1_values", "scd2_history")}

    # no untrimmed cell anywhere in staging
    for d in sorted(os.listdir(os.path.join(lake, "staging"))):
        path = os.path.join(lake, "staging", d)
        for c, typ, *_ in con.sql(
                f"DESCRIBE SELECT * FROM read_parquet('{path}/*.parquet')"
        ).fetchall():
            if typ != "VARCHAR":
                continue
            n = con.sql(f"""SELECT count(*) FROM read_parquet('{path}/*.parquet')
                            WHERE "{c}" <> trim("{c}", ' ')""").fetchone()[0]
            if n:
                res["trimmed"].append(f"staging/{d}.{c}: {n} untrimmed cells")

    # the unknown file lands in the error zone
    unknown = gen_inbox.UNKNOWN_FILES["inbox-day2" if daily else "inbox-day1"]
    if not glob.glob(os.path.join(lake, "error", "*", unknown)):
        res["error_zone"].append(f"{unknown} is not in the error zone")

    # row counts per dimension
    for dim, n in expected_counts(m, day).items():
        got = con.sql(f"SELECT count(*) FROM read_parquet('{wh}/{dim}/*.parquet')"
                      ).fetchone()[0]
        if got != n:
            res["row_counts"].append(f"warehouse/{dim}: {got} rows, expected {n}")

    # SCD1 dims hold the latest release's values
    for dim, keys in (("facility", [PK]),
                      ("qualitymsr_mds", [PK, "measure_code"])):
        path = f"{wh}/{dim}"
        cols = [c for c in _columns(con, path) if c not in STAMPS]
        _compare(dim, cols, _rows(con, path, cols), _expect(rel, dim), keys,
                 res["scd1_values"])
    bad = con.sql(f"""SELECT count(*) FROM read_parquet('{wh}/qualitymsr_mds/*.parquet')
                      WHERE {QUALITY_KEY} <> {PK} || '|' || measure_code""").fetchone()[0]
    if bad:
        res["scd1_values"].append(f"qualitymsr_mds: {bad} rows with a wrong key")

    # SCD2 dims: current rows equal the release; the closed rows are
    # exactly the changed keys, opened on day 1 and closed at the load date
    errors = res["scd2_history"]
    for dim in ("rating", "staffing"):
        path = f"{wh}/{dim}"
        attrs = [c for c in _columns(con, path) if c not in SCD_COLS and c != PK]
        cur = con.sql(f"""SELECT {", ".join(f'"{c}"' for c in [PK] + attrs)}
                          FROM read_parquet('{path}/*.parquet')
                          WHERE is_current""").fetchall()
        _compare(f"{dim}[current]", [PK] + attrs, cur, _expect(rel, dim),
                 [PK], errors)
        if len(cur) != len(rel["providers"]):
            errors.append(f"{dim}: {len(cur)} current rows, expected "
                          f"{len(rel['providers'])}")
        closed = con.sql(f"""SELECT {PK}, CAST(effective_from AS VARCHAR),
                                    CAST(effective_to AS VARCHAR)
                             FROM read_parquet('{path}/*.parquet')
                             WHERE NOT is_current""").fetchall()
        want = _changed_keys(m, attrs) if daily else set()
        got = {r[0] for r in closed}
        if got != want or len(closed) != len(want):
            errors.append(f"{dim}: closed keys {sorted(got)[:5]} "
                          f"({len(closed)} rows), expected {sorted(want)[:5]} "
                          f"({len(want)})")
        wrong = [r for r in closed
                 if (r[1], r[2]) != (gen_inbox.DAY1, load_date)]
        if wrong:
            errors.append(f"{dim}: closed rows with wrong dates, e.g. "
                          f"{wrong[:3]}")
    con.close()
    return res


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_query(con, spark_dir, sql):
    """One query's Spark result against its oracle; '' when they match."""
    files = glob.glob(os.path.join(spark_dir, "*.parquet"))
    if not files:
        return "missing Spark output"
    s = _canon(con.sql(
        f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").df())
    if len(s) == 0:
        return "empty Spark output"
    o = _canon(con.sql(sql).df())
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != {list(o.columns)}"
    dt = [c for c in s.columns if str(s[c].dtype) != str(o[c].dtype)]
    if dt:
        return "dtypes differ: " + ", ".join(
            f"{c} {s[c].dtype}/{o[c].dtype}" for c in dt)
    if len(s) != len(o):
        return f"{len(s)} rows, oracle {len(o)}"
    for c in s.columns:
        a, b = s[c], o[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            bad = ~((a.astype(float) == b.astype(float))
                    | (a.isna() & b.isna()))
        else:
            bad = a.astype(str) != b.astype(str)
        if bad.any():
            i = bad.idxmax()
            return f"column {c}: {int(bad.sum())} diffs, e.g. {a[i]!r} vs {b[i]!r}"
    return ""


def check_queries(results_dir, oracle_json, fixture, names):
    """Every query's result against its DuckDB oracle twin."""
    oracle = json.load(open(oracle_json))
    con = duckdb.connect()
    con.sql("SET threads=2")
    for f in sorted(glob.glob(os.path.join(fixture, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    res = {}
    for n in names:
        try:
            v = compare_query(con, os.path.join(results_dir, n), oracle[n])
        except Exception as e:  # a missing oracle or a read error fails it
            v = f"error {e!r}"
        res[n] = [v] if v else []
    con.close()
    return res
