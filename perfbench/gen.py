"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same arguments
write byte-identical files, and a different seed writes different files.

- `tables`: the TPC-H-like star schema plus the events, documents and
  embeddings tables that `SparkEntry.queries` read, as one parquet file
  per table.
- `feeds`: the employee cadence feeds (timeframe and leave drops, one per
  day; the yearly quota and holiday calendar) for `cadence_replay`.
- `messages`: the message files that `strike_stream` drops into the
  monitored folder, one file per scheduled drop.
"""
import datetime as dt
import json
import os

import numpy as np

DAY_S = 86400
EPOCH = dt.date(1970, 1, 1)


def _rng(seed, stream):
    # one independent stream per (seed, purpose): adding a column to one
    # generator never shifts the values of another
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def _write(path, text):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


# ---------------------------------------------------------------- tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
NOUN = ["plate", "widget", "ring", "rod", "gear", "bolt", "pipe", "valve"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "de", "fr"]


def tables(out_dir, sf, seed):
    """Write the ten query tables at scale factor `sf` under `out_dir`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150000 * sf)
    n_supp = max(10, int(10000 * sf))
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_li = int(6000000 * sf)
    n_ev = int(1000000 * sf)
    n_user = max(150, int(15000 * sf))
    n_doc = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))

    def ts(days, secs=None):
        base = np.datetime64("1970-01-01", "us")
        us = days.astype("int64") * DAY_S * 1_000_000
        if secs is not None:
            us = us + secs
        return pa.array(base + us.astype("timedelta64[us]"),
                        type=pa.timestamp("us"))

    def money(r, lo, hi, n):
        return np.round(r.uniform(lo, hi, n), 2)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    i32 = lambda a: pa.array(np.asarray(a, dtype="int32"))
    i64 = lambda a: pa.array(np.asarray(a, dtype="int64"))
    pick = lambda r, vals, n: pa.array(np.array(vals, dtype=object)[r.integers(0, len(vals), n)])

    put("region", {"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    put("nation", {"n_nationkey": i32(range(25)),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": i32([i % 5 for i in range(25)])})
    r = _rng(seed, 1)
    put("customer", {"c_custkey": i64(range(n_cust)),
                     "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                     "c_nationkey": i32(r.integers(0, 25, n_cust)),
                     "c_acctbal": money(r, -999.99, 9999.99, n_cust),
                     "c_mktsegment": pick(r, SEGMENTS, n_cust)})
    r = _rng(seed, 2)
    put("supplier", {"s_suppkey": i64(range(n_supp)),
                     "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                     "s_nationkey": i32(r.integers(0, 25, n_supp)),
                     "s_acctbal": money(r, -999.99, 9999.99, n_supp)})
    r = _rng(seed, 3)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    keys = np.arange(n_part)
    put("part", {"p_partkey": i64(keys),
                 "p_name": pick(r, names, n_part),
                 "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
                 "p_type": pick(r, PTYPES, n_part),
                 "p_size": i32(r.integers(1, 51, n_part)),
                 "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    r = _rng(seed, 4)
    d95 = (dt.date(1995, 1, 1) - EPOCH).days
    put("orders", {"o_orderkey": i64(range(n_ord)),
                   "o_custkey": i64(r.integers(0, n_cust, n_ord)),
                   "o_orderstatus": pick(r, ["F", "O", "P"], n_ord),
                   "o_totalprice": money(r, 1000.0, 500000.0, n_ord),
                   "o_orderdate": ts(d95 + r.integers(0, 2400, n_ord)),
                   "o_orderpriority": pick(r, PRIORITIES, n_ord)})
    r = _rng(seed, 5)
    put("lineitem", {"l_orderkey": i64(r.integers(0, n_ord, n_li)),
                     "l_partkey": i64(r.integers(0, n_part, n_li)),
                     "l_suppkey": i64(r.integers(0, n_supp, n_li)),
                     "l_linenumber": i32(r.integers(1, 8, n_li)),
                     "l_quantity": r.integers(1, 51, n_li).astype("float64"),
                     "l_extendedprice": money(r, 900.0, 105000.0, n_li),
                     "l_discount": r.integers(0, 11, n_li) / 100.0,
                     "l_tax": r.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": pick(r, ["A", "N", "R"], n_li),
                     "l_linestatus": pick(r, ["F", "O"], n_li),
                     "l_shipdate": ts(d95 + 1 + r.integers(0, 2500, n_li))})
    r = _rng(seed, 6)
    d24 = (dt.date(2024, 1, 1) - EPOCH).days
    ev_us = np.sort(r.integers(0, 30 * DAY_S * 1_000_000, n_ev))
    value = np.clip(np.round(r.exponential(50.0, n_ev), 2), 0.01, 490.0)
    put("events", {"event_id": i64(range(n_ev)),
                   "ts": ts(np.full(n_ev, d24), ev_us),
                   "user_id": i64(r.integers(0, n_user, n_ev)),
                   "event_type": pick(r, EVENT_TYPES, n_ev),
                   "value": value,
                   "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})
    r = _rng(seed, 7)
    texts = []
    for i in range(n_doc):
        if i > 20 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[r.integers(0, len(WORDS), int(r.integers(10, 100)))]))
    langs = np.array(LANGS)[np.minimum(r.integers(0, 9, n_doc) // 2, 4)]
    put("documents", {"doc_id": i64(range(n_doc)), "text": pa.array(texts),
                      "lang": pa.array(langs.tolist()),
                      "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
                      "n_chars": i64([len(t) for t in texts])})
    r = _rng(seed, 8)
    centers = r.normal(0, 1, (10, 64))
    labels = r.integers(0, 10, n_emb)
    vecs = centers[labels] + r.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    put("embeddings", {"vec_id": i64(range(n_emb)),
                       "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                       "label": i32(labels)})


# ----------------------------------------------------------------- feeds

DESIGNATIONS = ["analyst", "engineer", "manager", "director", "designer",
                "support", "sales", "ops"]
HOLIDAY_REASONS = ["new year", "founders day", "spring break", "labour day",
                   "summer day", "harvest", "national day", "thanksgiving",
                   "winter break", "year end"]


def _epoch(d):
    return (d - EPOCH).days * DAY_S


def feeds(out_dir, seed, employees, days, start="2024-01-29"):
    """Write the cadence feeds under `out_dir` and return the manifest.

    Layout: `yearly/quota.csv`, `yearly/calendar.csv`, and per daily run
    `daily/<n>/timeframe.csv` and `daily/<n>/leave.csv`. Day 0 carries
    the full employee load; later days carry about 1% changed employees.
    Duplicate timeframe rows (a lower salary beside the kept one),
    duplicate and cancelled leave rows, and late leave rows (dated before
    the run) are included on every day.
    """
    r = _rng(seed, 20)
    year_start = dt.date.fromisoformat(start)
    run_dates = [year_start + dt.timedelta(days=i + 1) for i in range(days)]
    os.makedirs(os.path.join(out_dir, "yearly"), exist_ok=True)
    year = year_start.year

    quota = r.integers(10, 31, employees)
    _write(os.path.join(out_dir, "yearly", "quota.csv"),
           "emp_id,leave_quota,leave_year\n" +
           "".join(f"{e},{q},{year}\n" for e, q in enumerate(quota)))
    hol_days = np.sort(r.choice(np.arange(1, 365), len(HOLIDAY_REASONS), replace=False))
    _write(os.path.join(out_dir, "yearly", "calendar.csv"),
           "reason,date\n" + "".join(
               f"{HOLIDAY_REASONS[i]},{dt.date(year, 1, 1) + dt.timedelta(days=int(d))}\n"
               for i, d in enumerate(hol_days)))

    # heavy leavers: about 0.3% of employees book enough leave to show in
    # both reports; everyone else books a handful of days
    heavy = r.choice(employees, max(1, employees // 300), replace=False)
    heavy_set = set(heavy.tolist())
    feed_rows = 0
    for n, day in enumerate(run_dates):
        d = os.path.join(out_dir, "daily", str(n))
        os.makedirs(d, exist_ok=True)
        if n == 0:
            emps = np.arange(employees)
            start_s = _epoch(year_start) - r.integers(0, 3000, employees) * DAY_S
        else:
            emps = np.sort(r.choice(employees, max(1, employees // 100), replace=False))
            start_s = np.full(len(emps), _epoch(day))
        desig = r.integers(0, len(DESIGNATIONS), len(emps))
        salary = r.integers(300, 2000, len(emps)) * 100
        lines = [f"{e},{DESIGNATIONS[g]},{s},,{p}\n"
                 for e, g, s, p in zip(emps, desig, start_s, salary)]
        dup = r.choice(len(emps), max(1, len(emps) // 100), replace=False)
        for i in dup:
            # same employee, same start, a strictly lower salary: the
            # open-row dedup keeps the original line
            lines.insert(int(r.integers(0, len(lines) + 1)),
                         f"{emps[i]},{DESIGNATIONS[(desig[i] + 1) % 8]},{start_s[i]},,{salary[i] - 50}\n")
        _write(os.path.join(d, "timeframe.csv"),
               "emp_id,designation,start_date,end_date,salary\n" + "".join(lines))
        feed_rows += len(lines)

        left = (dt.date(year, 12, 31) - day).days
        rows = []
        n_light = max(1, employees // 200)
        for e in r.choice(employees, n_light, replace=False):
            if int(e) in heavy_set:
                continue
            off = int(r.integers(-20, left + 1)) if left > 0 else -1
            rows.append((int(e), day + dt.timedelta(days=off or 1)))
        for e in heavy:
            for _ in range(int(r.integers(20, 30) if n == 0 else r.integers(1, 4))):
                rows.append((int(e), day + dt.timedelta(days=int(r.integers(1, max(2, left + 1))))))
        lines = []
        for e, ld in rows:
            status = "CANCELLED" if r.random() < 0.1 else "ACTIVE"
            lines.append(f"{e},{ld.isoformat()},{status}\n")
            if r.random() < 0.05:
                # duplicate (emp, date) later in the same file: the last
                # occurrence wins, so a re-sent row may flip the status
                lines.append(f"{e},{ld.isoformat()},{'ACTIVE' if r.random() < 0.5 else 'CANCELLED'}\n")
        _write(os.path.join(d, "leave.csv"), "emp_id,date,status\n" + "".join(lines))
        feed_rows += len(lines)

    manifest = {"seed": int(seed), "employees": int(employees),
                "run_dates": [x.isoformat() for x in run_dates],
                "year_date": year_start.isoformat(),
                "feed_rows": int(feed_rows + employees + len(HOLIDAY_REASONS))}
    _write(os.path.join(out_dir, "manifest.json"), json.dumps(manifest, indent=1))
    return manifest


# -------------------------------------------------------------- messages

RESERVED = ["secret", "fraud", "leak"]
CHAT = ("hello meeting lunch report deploy review call status update "
        "ticket please thanks done today tomorrow plan").split()


def messages(out_dir, seed, files, per_file, employees,
             start="2024-01-20T00:00:00", span_days=40):
    """Write `files` message drops of `per_file` rows under `out_dir`.

    Event time rises across drops (drop i covers its own slice of
    `span_days`), so a batch fold over all messages and the streaming fold
    see every employee's messages in the same order. The span crosses
    month ends, which exercises the monthly strike cooldown. About 4% of
    messages carry a reserved word. Also writes `salaries.csv`, the base
    salary of every employee.
    """
    r = _rng(seed, 30)
    os.makedirs(out_dir, exist_ok=True)
    t0 = dt.datetime.fromisoformat(start)
    slice_ms = span_days * DAY_S * 1000 // files
    _write(os.path.join(out_dir, "salaries.csv"), "".join(
        f"{e},{s}\n" for e, s in enumerate(r.integers(500, 3000, employees) * 100)))
    total = 0
    for i in range(files):
        offs = np.sort(r.choice(slice_ms, per_file, replace=False)) + i * slice_ms
        emps = r.integers(0, employees, per_file)
        lines = []
        for e, o in zip(emps, offs):
            words = list(np.array(CHAT)[r.integers(0, len(CHAT), int(r.integers(3, 9)))])
            if r.random() < 0.04:
                words.insert(int(r.integers(0, len(words) + 1)), RESERVED[int(r.integers(0, 3))])
            t = t0 + dt.timedelta(milliseconds=int(o))
            lines.append(f"{e},{' '.join(words)},{t.strftime('%Y-%m-%d %H:%M:%S')}.{t.microsecond // 1000:03d}\n")
        _write(os.path.join(out_dir, f"msg-{i:05d}.csv"), "emp_id,message,ts\n" + "".join(lines))
        total += len(lines)
    return {"files": files, "rows": total, "reserved": RESERVED}
