"""Independent checks of the cadence replay, recomputed in DuckDB from the
generated feeds.

For every daily run: the timeframe dim holds exactly one open SCD2 row
per employee seen so far, and the active-headcount and upcoming-leave
reports equal the recomputed rows. For the monthly run: the leave-quota
report equals the recomputed rows. A failed check marks its operation
failed, with the reason.
"""
import collections
import glob
import os

import duckdb


def _csv_rows(con, d, cols):
    """The report's rows as a multiset: a repeated row is a wrong row."""
    parts = [p for p in glob.glob(os.path.join(d, "*.csv")) if os.path.getsize(p) > 0]
    if not parts:
        return collections.Counter()
    rel = con.sql(f"SELECT {', '.join(cols)} FROM read_csv({parts!r}, header=true, all_varchar=true)")
    return collections.Counter(tuple(r) for r in rel.fetchall())


def _load(con, feeds, days):
    # the leave feed's line order decides which duplicate wins, so keep it
    rows = []
    for n in range(days):
        with open(os.path.join(feeds, "daily", str(n), "leave.csv")) as f:
            for i, line in enumerate(f.read().splitlines()[1:]):
                rows.append(f"{line},{n},{i}\n")
    aug = os.path.join(feeds, "leave_all.csv")
    with open(aug, "w") as f:
        f.write("emp_id,date,status,dnum,lnum\n" + "".join(rows))
    con.execute(f"""CREATE TABLE leave AS SELECT emp_id::BIGINT emp_id,
        date::DATE d, status, dnum::INT dnum, lnum::INT lnum FROM read_csv('{aug}', header=true, all_varchar=true)""")
    tf = " UNION ALL ".join(
        f"SELECT *, {n} AS dnum FROM read_csv('{os.path.join(feeds, 'daily', str(n), 'timeframe.csv')}',"
        " header=true, columns={'emp_id':'BIGINT','designation':'VARCHAR','start_date':'BIGINT',"
        "'end_date':'BIGINT','salary':'BIGINT'})" for n in range(days))
    con.execute(f"CREATE TABLE tf AS {tf}")
    con.execute(f"""CREATE TABLE quota AS SELECT * FROM read_csv('{feeds}/yearly/quota.csv',
        header=true, columns={{'emp_id':'BIGINT','leave_quota':'INTEGER','leave_year':'INTEGER'}})""")
    con.execute(f"""CREATE TABLE cal AS SELECT reason, date::DATE d
        FROM read_csv('{feeds}/yearly/calendar.csv', header=true, all_varchar=true)""")


def _leave_dim(n):
    return f"""(SELECT emp_id, d, status FROM (SELECT *, row_number() OVER
        (PARTITION BY emp_id, d ORDER BY dnum DESC, lnum DESC) rn FROM leave
        WHERE dnum <= {n}) WHERE rn = 1)"""


def _daily(con, n, date, c):
    errs = []
    dim = f"read_parquet('{c['timeframe']}/*.parquet')"
    dup = con.sql(f"""SELECT count(*) FROM (SELECT emp_id FROM {dim}
        WHERE end_date IS NULL GROUP BY 1 HAVING count(*) > 1)""").fetchone()[0]
    open_rows = con.sql(f"SELECT count(*) FROM {dim} WHERE end_date IS NULL").fetchone()[0]
    seen = con.sql(f"SELECT count(DISTINCT emp_id) FROM tf WHERE dnum <= {n}").fetchone()[0]
    if dup or open_rows != seen:
        errs.append(f"timeframe dim: {dup} employees with several open rows, "
                    f"{open_rows} open rows for {seen} employees")
    want = collections.Counter((d, str(k)) for d, k in con.sql(f"""SELECT designation, count(*) FROM
        (SELECT designation, row_number() OVER (PARTITION BY emp_id
           ORDER BY dnum DESC, salary DESC, start_date ASC) rn FROM tf WHERE dnum <= {n})
        WHERE rn = 1 GROUP BY 1""").fetchall())
    got = _csv_rows(con, c["active"], ["designation", "count"])
    if got != want:
        errs.append(f"active report: {sum(((got - want) + (want - got)).values())} rows differ")
    run = f"DATE '{date}'"
    want = collections.Counter((str(e), str(k)) for e, k in con.sql(f"""
        WITH hol AS (SELECT d FROM cal WHERE d > {run} AND year(d) = year({run})
                       AND isodow(d) <= 5),
        rem AS (SELECT count(*) r FROM (SELECT unnest(generate_series({run},
                  make_date(year({run}), 12, 31), INTERVAL 1 DAY))::DATE d)
                WHERE isodow(d) <= 5 AND d NOT IN (SELECT d FROM hol)),
        up AS (SELECT emp_id, count(DISTINCT d) k FROM {_leave_dim(n)}
               WHERE status = 'ACTIVE' AND d > {run} AND year(d) = year({run})
                 AND isodow(d) <= 5 AND d NOT IN (SELECT d FROM hol) GROUP BY 1)
        SELECT emp_id, k FROM up, rem WHERE k / r * 100 > 8""").fetchall())
    got = _csv_rows(con, c["upcoming"], ["emp_id", "upcoming_leaves"])
    if got != want:
        errs.append(f"upcoming-leave report: {sum(((got - want) + (want - got)).values())} rows differ")
    return errs


def _monthly(con, n, date, c):
    run = f"DATE '{date}'"
    want = {(str(e), str(a), str(b)): p for e, a, b, p in con.sql(f"""
        WITH av AS (SELECT emp_id, sum(leave_quota) a FROM quota
                    WHERE leave_year = year({run}) GROUP BY 1),
        ad AS (SELECT emp_id, count(*) b FROM {_leave_dim(n)}
               WHERE status = 'ACTIVE' AND year(d) = year({run}) GROUP BY 1)
        SELECT emp_id, a, b, b / a * 100 FROM av JOIN ad USING (emp_id)
        WHERE round(b / a * 100, 2) > 80""").fetchall()}
    got = _csv_rows(con, c["quota"], ["emp_id", "leave_available", "leave_availed", "percentage"])
    keys = collections.Counter(g[:3] for g in got.elements())
    wkeys = collections.Counter(want.keys())
    if keys != wkeys or any(abs(float(g[3]) - want[g[:3]]) > 0.0051
                            for g in got if g[:3] in want):
        return [f"quota report: {sum(((keys - wkeys) + (wkeys - keys)).values())} rows differ"]
    return []


def cadence(passes, feeds, manifest):
    """Mark every cadence op whose outputs disagree with the recomputation."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    _load(con, feeds, len(manifest["run_dates"]))
    for p in passes:
        for o in p["ops"]:
            c = o.get("check") or {}
            if not o["ok"] or "kind" not in c:
                continue
            n = int(c["day"])
            errs = (_daily if c["kind"] == "daily" else _monthly)(con, n, c["date"], c)
            if errs:
                o["ok"] = False
                o["why"] = "; ".join(errs)
    con.close()
