"""Output checks: every engine output the benchmark produces is compared
with a reference the engine did not compute.

- dashboard: each query's result against DuckDB running the registry's
  own oracle SQL (`SparkEntry.oracleSql`) over the same generated parquet,
  with the compare rules of tools/check.py (column names sorted, equal row
  counts, rows sorted on every column, per-column value equality).
- dedup: every pass's verdicts (doc_id, source, kept, matched_old, wave)
  against DuckDB running `oracleSql("d_dedup_streamed")`, restricted to the
  waves the pass was fed.
- ingest: the sink as the exact set of (entityid, room, sensor, event_ts,
  value) rows against a sequential model of StreamIngest's parse-drop and
  per-entity throttle rules.

Each check returns a list of problems; an empty list means the output
matched.
"""
import datetime
import glob
import json
import os

import duckdb
import pandas as pd

SENSORS = ("temperature", "humidity", "brightness")


def compare_frames(actual, expected):
    """tools/check.py's compare: schema by sorted names, row count, then
    each column of the fully sorted frames."""
    a_cols, e_cols = sorted(actual.columns), sorted(expected.columns)
    if a_cols != e_cols:
        return [f"schema {a_cols} vs {e_cols}"]
    if len(actual) != len(expected):
        return [f"rows {len(actual)} vs {len(expected)}"]
    a = actual[a_cols].sort_values(a_cols, kind="mergesort").reset_index(drop=True)
    b = expected[e_cols].sort_values(e_cols, kind="mergesort").reset_index(drop=True)
    problems = []
    for c in a_cols:
        av = a[c].astype(object).where(pd.notna(a[c]), None)
        bv = b[c].astype(object).where(pd.notna(b[c]), None)
        if not av.equals(bv):
            neq = a[c].astype(str) != b[c].astype(str)
            idx = list(neq[neq].index[:3])
            if idx:
                problems.append(f"col {c} differs at rows {idx}: "
                                f"{[(a[c][i], b[c][i]) for i in idx]}")
    return problems


def _connect(data_dir):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def check_dashboard(check_dir, data_dir):
    d = os.path.join(check_dir, "dashboard")
    with open(os.path.join(d, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = _connect(data_dir)
    problems = []
    for name, sql in sorted(oracle.items()):
        out = os.path.join(d, name)
        if not glob.glob(os.path.join(out, "*.parquet")):
            problems.append(f"{name}: no output written")
            continue
        actual = con.sql(f"SELECT * FROM '{out}/*.parquet'").df()
        problems += [f"{name}: {p}" for p in compare_frames(actual, con.sql(sql).df())]
    return problems


def check_dedup(check_dir, data_dir):
    d = os.path.join(check_dir, "dedup")
    with open(os.path.join(d, "oracle_sql.json")) as fh:
        sql = json.load(fh)["d_dedup_streamed"]
    with open(os.path.join(d, "passes.json")) as fh:
        fed = json.load(fh)
    con = _connect(data_dir)
    expected = con.sql(sql).df()
    verdicts = con.sql(f"SELECT * FROM '{d}/verdicts/*.parquet'").df()
    problems = []
    for name, n in sorted(fed.items()):
        actual = verdicts[verdicts["pass"] == name].drop(columns=["pass"])
        exp = expected[expected["wave"] < n].reset_index(drop=True)
        problems += [f"pass {name}: {p}" for p in compare_frames(actual.reset_index(drop=True), exp)]
    if not fed:
        problems.append("no dedup pass ran")
    return problems


EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _parse_ts_us(s):
    """Epoch microseconds of an ISO-8601 timestamp (no offset means UTC, the
    session time zone), or None where `try_to_timestamp` yields NULL."""
    try:
        t = datetime.datetime.fromisoformat(s)
    except (TypeError, ValueError):
        return None
    if t.tzinfo is None:
        t = t.replace(tzinfo=datetime.timezone.utc)
    return (t - EPOCH) // datetime.timedelta(microseconds=1)


def model_ingest(files, gap_ms):
    """Sequential model of parseNotifications -> throttle over `files`, one
    micro-batch per file: readings with an absent attribute, a null value or
    an unparseable observedAt drop; per entity, a reading is kept when it is
    the first, shares the last kept instant, or comes >= gap_ms after it,
    folding each batch in (event time, sensor) order."""
    last_kept = {}
    kept = set()
    for path in files:
        batch = {}
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                for e in (json.loads(line).get("data") or []):
                    for sensor in SENSORS:
                        attr = e.get(sensor)
                        if not attr or attr.get("value") is None:
                            continue
                        us = _parse_ts_us(attr.get("observedAt"))
                        if us is None:
                            continue
                        batch.setdefault(e["id"], []).append(
                            (us // 1000, sensor, e["type"], float(attr["value"]), us))
        for entity, rows in batch.items():
            last = last_kept.get(entity)
            # the throttle compares java.sql.Timestamp.getTime, i.e. whole ms
            for ms, sensor, room, value, us in sorted(rows, key=lambda r: (r[0], r[1])):
                if last is None or ms == last or ms - last >= gap_ms:
                    last = ms
                    kept.add((entity, room, sensor, us, value))
            if last is not None:
                last_kept[entity] = last
    return kept


def check_ingest(check_dir, data_dir, gap_ms):
    files = sorted(glob.glob(os.path.join(data_dir, "notifications", "*.jsonl")))
    problems = []
    dumps = sorted(glob.glob(os.path.join(check_dir, "ingest", "*.tsv")))
    if os.path.join(check_dir, "ingest", "main.tsv") not in dumps:
        problems.append("main: no sink dump written")
    for path in dumps:
        name = os.path.basename(path)[:-len(".tsv")]
        with open(path) as fh:
            header, *lines = fh.read().splitlines()
        n = int(header.split("\t")[1])
        rows = []
        for line in lines:
            entity, room, sensor, ts, value = line.split("\t")
            rows.append((entity, room, sensor, int(ts), float(value)))
        landed = set(rows)
        if len(landed) != len(rows):
            problems.append(f"{name}: {len(rows) - len(landed)} duplicate sink rows")
        expected = model_ingest(files[:n], gap_ms)
        missing, extra = expected - landed, landed - expected
        if missing or extra:
            problems.append(f"{name}: {len(missing)} rows missing, {len(extra)} unexpected "
                            f"(e.g. {sorted(missing)[:1]} / {sorted(extra)[:1]})")
    return problems


def check(workload, check_dir, data_dir, gap_ms):
    if workload == "dashboard":
        return check_dashboard(check_dir, data_dir)
    if workload == "dedup":
        return check_dedup(check_dir, data_dir)
    return check_ingest(check_dir, data_dir, gap_ms)
