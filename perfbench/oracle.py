"""Output checks against DuckDB 1.0.0, run after the JVM has exited (outside
every timed span and outside set-up).

Results are compared the way tools/compare.py compares them: columns sorted
by name, DuckDB type names compared as well as values, rows canonicalised
and sorted. `canon` below is tools/compare.py's canon.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _form(cols, types, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], [types[i] for i in order], body


def duck_form(con, sql):
    rel = con.sql(sql)
    return _form(list(rel.columns), [str(t) for t in rel.types], rel.fetchall())


def _py(v, t):
    """A value the JVM wrote to JSON, as DuckDB's Python client returns it."""
    if v is None:
        return None
    if t.endswith("[]"):
        return [_py(x, t[:-2]) for x in v]
    if t in ("DOUBLE", "FLOAT"):
        return float(v)
    if t.startswith("DECIMAL"):
        return decimal.Decimal(v)
    if t == "TIMESTAMP":
        # an instant arrives as UTC with a "Z"; DuckDB returns it zone-less
        d = datetime.datetime.fromisoformat(v.replace("Z", "+00:00"))
        return d.astimezone(datetime.timezone.utc).replace(tzinfo=None) if d.tzinfo else d
    return v


def spark_form(out):
    types = out["types"]
    rows = [[_py(v, t) for v, t in zip(r, types)] for r in out["rows"]]
    return _form(out["columns"], types, rows)


def digest(form):
    cols, types, body = form
    h = hashlib.sha256(json.dumps([cols, types]).encode())
    for line in body:
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def diff(spark, oracle):
    """None when equal, else a one-line reason (as tools/compare.py words it)."""
    (sc, st, sr), (oc, ot, orows) = spark, oracle
    if sc != oc:
        return f"SCHEMA_MISMATCH spark={sc} oracle={oc}"
    if st != ot:
        return f"TYPE_MISMATCH spark={st} oracle={ot}"
    if len(sr) != len(orows):
        return f"ROWCOUNT spark={len(sr)} oracle={len(orows)}"
    if sr != orows:
        first = [(a, b) for a, b in zip(sr, orows) if a != b][:2]
        return f"VALUE_MISMATCH first_diffs={first}"
    return None


def connect(sf_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_pipes(ops, records, sf_dir):
    """Each pipeline against the paper's rewrite run on DuckDB."""
    by_id = {op["id"]: op for op in ops}
    con = connect(sf_dir, ["lineitem", "orders", "customer", "supplier", "nation"])
    bad = {}
    for rec in records:
        if rec["errored"]:
            continue
        why = diff(spark_form(rec["output"]), duck_form(con, by_id[rec["id"]]["oracle"]))
        if why:
            bad[rec["id"]] = why
    con.close()
    return bad


def _count(out):
    rows = (out or {}).get("rows") or []
    return rows[0][0] if rows and rows[0] else None


def check_dml(ops, records, finals, sf_dir):
    """Replays the statements of every pass that ran on DuckDB, in order.
    Returns (mismatches by op id, rows changed by op id)."""
    ran = {rec["id"]: rec for rec in records}
    passes = sorted({rec["pass"] for rec in records})
    con = connect(sf_dir, ["orders"])
    bad, changed = {}, {}
    for p in passes:
        for op in [o for o in ops if o["phase"] == "timed" and o["pass"] == p]:
            rec = ran.get(op["id"])
            if rec is None:
                break  # the run stopped inside this pass
            form = result = err = None
            try:
                if op["role"] == "read":
                    form = duck_form(con, op["text"])
                else:
                    result = con.execute(op["text"]).fetchall()
            except duckdb.Error as e:
                err = str(e).splitlines()[0]
            if op["role"] == "violation":
                if err is None:
                    bad[op["id"]] = "oracle accepted a statement that must error"
                continue
            if err is not None:
                bad[op["id"]] = f"ORACLE_FAIL: {err[:200]}"
                continue
            if rec["errored"]:
                continue  # counted as a failure already
            if op["role"] == "read":
                why = diff(spark_form(rec["output"]), form)
                if why:
                    bad[op["id"]] = why
            elif result and op["text"].split()[0] in ("insert", "update", "delete"):
                n = int(result[0][0])
                changed[op["id"]] = n
                if _count(rec["output"]) != n:
                    bad[op["id"]] = f"COUNT spark={_count(rec['output'])} oracle={n}"
    for fin in finals:
        if "error" in fin:
            bad[fin["id"]] = "final state read failed: " + fin["error"]
            continue
        why = diff(spark_form(fin["output"]), duck_form(con, f"SELECT * FROM pb_t{fin['pass']}"))
        if why:
            bad[fin["id"]] = "final table state: " + why
    con.close()
    return bad, changed


def check_rows(records, oracles, sf_dir, cache_dir):
    """Each declared row against its DuckDB oracle at this scale factor. The
    oracle's digest is cached per oracle text; a row without an oracle must
    give the same digest on every pass, in this run and in earlier ones."""
    os.makedirs(cache_dir, exist_ok=True)
    bad = {}
    con = None
    seen = {}
    for rec in records:
        if rec["errored"]:
            continue
        row = rec["row"]
        got = digest(spark_form(rec["output"]))
        sql = oracles.get(row)
        key = hashlib.sha256(((sql or "no-oracle") + sf_dir).encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{row}-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                want = json.load(fh)["digest"]
        else:
            if sql is None:
                want = seen.get(row, got)
            else:
                if con is None:
                    con = duckdb.connect()
                    con.execute("SET threads TO 4")
                    for t in TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
                want = digest(duck_form(con, sql))
            with open(path + ".tmp", "w") as fh:
                json.dump({"row": row, "digest": want, "oracle": sql is not None}, fh)
            os.replace(path + ".tmp", path)
        seen[row] = want
        if got != want:
            bad[rec["id"]] = (f"{row}: digest differs from the DuckDB oracle" if sql
                              else f"{row}: digest differs from an earlier pass (no oracle)")
    if con is not None:
        con.close()
    return bad
