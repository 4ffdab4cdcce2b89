"""Deterministic operation streams for the three workloads.

`generate(workload, seed)` returns a list of operations (dicts). The same
seed gives a byte-identical stream (`stream_bytes`); the program sees only
each operation's `text` (or, for `operator_pipelines`, the declared row
name). Every operation carries what the output check needs: the DuckDB
oracle text of a pipeline, or the statement's role in a DML script.

Operation fields: id, phase (warmup | timed | final), pass, kind
(pipe | row | dml), text, row, expect_error, and check-only fields
(oracle, role, proposed, conflicting, stages, joins).
"""
import json
import random

# Warm-up operations use this fixed seed, so set-up does the same work on
# every run whatever --seed is.
WARMUP_SEED = 7

# Stratified pipe-query passes: every pass holds two pipelines of each
# depth 1-8, with join counts depth % 3 and (depth + 1) % 3, so every pass,
# and so every run, times the same mix; pass p has the same shapes under
# every seed, which picks the literals.
DEPTHS = range(1, 9)
JOIN_COUNTS = (0, 1, 2)
PIPE_PASSES = 60

# Declared rows whose DataFrame build runs driver-side jobs (checkpoints,
# counts, iterations): Dedup with no DuckDB oracle (d18), GraphOps (g06),
# curation/TrainingPipeline (p04), retrieval/FTS (r10) and the batch face of
# a streaming upsert (st17, the PSQL ON CONFLICT write path). st16 runs
# graft.streaming's flatMapGroupsWithState CUSUM (STREAMING_ROWS), so the
# streaming layer is timed through it. p03 and g05 are left out: cold, on
# 4 CPUs, they take 21 s and 14 s of a run, and p03's recursive DuckDB
# oracle does not finish in minutes at sf0.1; g06 stands in for GraphOps
# and p04 for curation.
OPERATOR_ROWS = (
    "d18_semdedup",
    "g06_kcore",
    "p04_mixture_pack_pipeline",
    "r10_fts_normalized_tokens",
    "st16_stream_cusum",
    "st17_stream_upsert",
)
# rows whose operation runs graft.streaming code
STREAMING_ROWS = ("st16_stream_cusum",)
OPERATOR_PASSES = 4

DML_PASSES = 40
DML_ROWS = 1000      # rows the INSERT ... SELECT loads into each pass's table
DML_BATCH = 8        # rows proposed by each upsert statement
DML_CONFLICT = 0.5   # share of proposed upsert keys that already exist

# --------------------------------------------------------------------------
# pipe_queries
# --------------------------------------------------------------------------
# Column kinds: key (unique id), fk (join column), int, qty, money, rate,
# flag (low-cardinality string), ts, name (high-cardinality string).
TABLES = {
    "lineitem": {
        "key": ["l_orderkey", "l_linenumber"],
        "cols": {"l_orderkey": "fk", "l_partkey": "int", "l_suppkey": "fk",
                 "l_linenumber": "int", "l_quantity": "qty",
                 "l_extendedprice": "money", "l_discount": "rate", "l_tax": "rate",
                 "l_returnflag": "flag", "l_linestatus": "flag", "l_shipdate": "ts"},
    },
    "orders": {
        "key": ["o_orderkey"],
        "cols": {"o_orderkey": "int", "o_custkey": "fk", "o_orderstatus": "flag",
                 "o_totalprice": "money", "o_orderdate": "ts",
                 "o_orderpriority": "flag"},
    },
    "customer": {
        "key": ["c_custkey"],
        "cols": {"c_custkey": "int", "c_name": "name", "c_nationkey": "fk",
                 "c_acctbal": "money", "c_mktsegment": "flag"},
    },
    "supplier": {
        "key": ["s_suppkey"],
        "cols": {"s_suppkey": "int", "s_name": "name", "s_nationkey": "fk",
                 "s_acctbal": "money"},
    },
    "nation": {
        "key": ["n_nationkey"],
        "cols": {"n_nationkey": "int", "n_name": "flag", "n_regionkey": "int"},
    },
}
# N:1 joins, so the left side's unique key stays unique after the join.
JOINS = {
    ("lineitem", "orders"): ("l_orderkey", "o_orderkey"),
    ("lineitem", "supplier"): ("l_suppkey", "s_suppkey"),
    ("orders", "customer"): ("o_custkey", "c_custkey"),
    ("customer", "nation"): ("c_nationkey", "n_nationkey"),
    ("supplier", "nation"): ("s_nationkey", "n_nationkey"),
}
FLAG_VALUES = {
    "l_returnflag": ["A", "N", "R"],
    "l_linestatus": ["F", "O"],
    "o_orderstatus": ["F", "O", "P"],
    "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
    "c_mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
    "n_name": [f"NATION_{i}" for i in range(25)],
}
MONEY_RANGE = {"l_extendedprice": (2000, 90000), "o_totalprice": (50000, 450000),
               "c_acctbal": (0, 9000), "s_acctbal": (0, 9000)}
# Columns to group by: low-cardinality, so an aggregate bounds the output.
GROUP_KINDS = ("flag", "year", "combo")
LOW_CARD_INT = {"c_nationkey", "s_nationkey", "n_regionkey"}


def _join_paths(base):
    """Join sequences reachable from `base`, by length."""
    out = {0: [[]], 1: [], 2: []}
    for (a, b) in JOINS:
        if a == base:
            out[1].append([(a, b)])
            for (c, d) in JOINS:
                if c == b and d != base:
                    out[2].append([(a, b), (c, d)])
            for (c, d) in JOINS:
                if c == base and d != b and d != "nation":
                    out[2].append([(a, b), (c, d)])
    return out


def _date(r):
    y = r.randint(1995, 2001)
    m = r.randint(1, 12 if y < 2001 else 7)
    return f"{y}-{m:02d}-{r.randint(1, 28):02d}"


class _Rel:
    """The relation a pipeline has built so far: columns and unique key."""

    def __init__(self, table):
        self.cols = dict(TABLES[table]["cols"])
        self.key = list(TABLES[table]["key"])


def _where(r, rs, rel):
    cands = [c for c, k in rel.cols.items() if k in ("qty", "money", "rate", "flag", "ts", "int", "fk", "year")]
    c = rs.choice(cands)
    k = rel.cols[c]
    if k == "qty":
        lo = r.randint(1, 40)
        return (f"{c} between {lo} and {lo + r.randint(5, 10)}" if rs.random() < 0.5
                else f"{c} > {r.randint(5, 45)}")
    if k == "money":
        lo, hi = MONEY_RANGE[c]
        return f"{c} {rs.choice(['>', '<'])} {r.randint(lo, hi)}"
    if k == "rate":
        a = r.randint(0, 6)
        return f"{c} between 0.0{a} and 0.0{a + r.randint(1, 3)}"
    if k == "flag" and c in FLAG_VALUES:
        vals = sorted(r.sample(FLAG_VALUES[c], rs.randint(1, max(1, len(FLAG_VALUES[c]) // 2))))
        return f"{c} in ({', '.join(repr(v) for v in vals)})"
    if k == "ts":
        return f"{c} {rs.choice(['>=', '<'])} date '{_date(r)}'"
    if k == "year":
        return f"{c} >= {r.randint(1995, 2000)}"
    if c in LOW_CARD_INT:
        return f"{c} <> {r.randint(0, 24)}"
    m = r.randint(3, 17)
    return f"{c} % {m} <> {r.randint(0, m - 1)}"


def _derive(rs, rel, i):
    opts = []
    if "l_extendedprice" in rel.cols and "l_discount" in rel.cols:
        opts.append(("cast(cast(l_extendedprice as decimal(18,2)) * "
                     "cast(1 - l_discount as decimal(18,2)) as double)", f"net{i}", "net"))
    if "l_returnflag" in rel.cols and "l_linestatus" in rel.cols:
        opts.append(("concat(l_returnflag, l_linestatus)", f"rl{i}", "combo"))
    for c in ("l_shipdate", "o_orderdate"):
        if c in rel.cols:
            opts.append((f"cast(year({c}) as integer)", f"yr{i}", "year"))
    if "l_quantity" in rel.cols:
        opts.append(("l_quantity * 2", f"q2_{i}", "qty"))
    if "c_mktsegment" in rel.cols:
        opts.append(("lower(c_mktsegment)", f"seg{i}", "combo"))
    if "o_totalprice" in rel.cols:
        opts.append(("cast(cast(o_totalprice as decimal(18,2)) * 0.01 as double)", f"tp{i}", "net"))
    if not opts:
        return None
    expr, name, kind = rs.choice(opts)
    rel.cols[name] = kind
    return f"select *, {expr} as {name}"


def _project(rs, rel, keep):
    must = set(rel.key) | set(keep)
    rest = [c for c in rel.cols if c not in must]
    chosen = [c for c in rel.cols if c in must or (c in rest and rs.random() < 0.5)]
    if len(chosen) == len(rel.cols) and rest:
        chosen.remove(rs.choice(rest))
    rel.cols = {c: rel.cols[c] for c in chosen}
    return "select " + ", ".join(chosen)


def _aggregate(rs, rel, i, bounded):
    groupable = [c for c, k in rel.cols.items() if k in GROUP_KINDS or c in LOW_CARD_INT]
    if not bounded:
        groupable += [c for c, k in rel.cols.items() if k == "fk"]
    groupable = sorted(set(groupable))
    keys = sorted(rs.sample(groupable, min(len(groupable), rs.randint(1, 2))))
    aggs = [f"count() as n{i}"]
    cols = {f"n{i}": "cnt"}
    money = [c for c, k in rel.cols.items() if k == "money"]
    nets = [c for c, k in rel.cols.items() if k == "net"]
    extra = []
    for c in money:
        extra.append((f"cast(sum(cast({c} as decimal(18,2))) as double)", f"s_{c}_{i}", "num"))
    for c in nets:
        extra.append((f"cast(sum(cast({c} as decimal(18,4))) as double)", f"s_{c}_{i}", "num"))
    for c, k in rel.cols.items():
        if k in ("money", "rate", "qty"):
            extra.append((f"max({c})", f"mx_{c}_{i}", "num"))
            extra.append((f"min({c})", f"mn_{c}_{i}", "num"))
    if "l_quantity" in rel.cols:
        extra.append(("cast(avg(l_quantity) as double)", f"avg_qty{i}", "num"))
    for c in rel.key[:1]:
        extra.append((f"count(distinct {c})", f"nd{i}", "cnt"))
    for expr, name, kind in rs.sample(extra, min(len(extra), rs.randint(1, 3))):
        aggs.append(f"{expr} as {name}")
        cols[name] = kind
    new = {k: rel.cols[k] for k in keys}
    new.update(cols)
    rel.cols = new
    rel.key = keys
    group = f" group by {', '.join(keys)}" if keys else ""
    return f"select {', '.join(keys + aggs)}{group}", f"n{i}"


def _pipe_query(r, rs, depth, joins, base):
    """One pipeline of exactly `depth` stages with `joins` join stages. Its
    shape (join path, stage kinds, columns and functions) comes from `rs`,
    which the slot's position fixes; its literals come from `r`, which the
    seed drives. Returns (psql_text, duckdb_oracle, stats)."""
    paths = _join_paths(base)
    joins = min(joins, max(j for j in paths if paths[j]), max(0, depth - 1))
    path = rs.choice(paths[joins])
    # the closing block keeps the output small: an aggregate and/or a
    # top-N whose ORDER BY ends in the relation's unique key
    blocks = [["agg"]]
    if depth - joins >= 2:
        blocks += [["order", "limit"], ["agg", "where_agg"]]
    if depth - joins >= 3:
        blocks.append(["agg", "order", "limit"])
    block = rs.choice(blocks) if depth > 1 else ["agg"]
    fill = depth - joins - len(block)
    kinds = ["join"] * joins + [rs.choice(["where", "where", "derive", "project"]) for _ in range(fill)]
    rs.shuffle(kinds)
    # a join must still find its foreign key: projections keep them
    kinds += block
    rel = _Rel(base)
    stages = []
    pending = list(path)
    count_col = None
    for i, k in enumerate(kinds):
        if k == "join":
            (a, b) = pending.pop(0)
            lk, rk = JOINS[(a, b)]
            stages.append(f"as x{i} join {b} on x{i}.{lk} = {b}.{rk}")
            rel.cols.update(TABLES[b]["cols"])
        elif k == "where":
            stages.append("where " + _where(r, rs, rel))
        elif k == "derive":
            s = _derive(rs, rel, i)
            stages.append(s if s else "where " + _where(r, rs, rel))
        elif k == "project":
            keep = [JOINS[p][0] for p in pending]
            stages.append(_project(rs, rel, keep))
        elif k == "agg":
            s, count_col = _aggregate(rs, rel, i, bounded=block == ["agg"] or block[1] == "where_agg")
            stages.append(s)
        elif k == "where_agg":
            stages.append(f"where {count_col} > {r.randint(0, 50)}")
        elif k == "order":
            sortable = [c for c, t in rel.cols.items() if t in ("money", "num", "cnt", "qty", "net", "rate")]
            lead = rs.choice(sortable) if sortable else rel.key[0]
            keys = [lead + " desc"] + [c for c in rel.key if c != lead]
            stages.append("order by " + ", ".join(keys))
        elif k == "limit":
            stages.append(f"limit {r.randint(5, 40)}")
    text = f"from {base}" + "".join(f" |> {s}" for s in stages)
    # the paper's rewrite: A |> B |> C runs as FROM (FROM (A) B) C
    oracle = f"FROM {base}"
    for s in stages:
        oracle = f"FROM ({oracle}) {s}"
    return text, oracle, {"stages": depth, "joins": joins}


def _bases(joins):
    return ["lineitem", "orders"] if joins == 2 else ["lineitem", "orders", "customer", "supplier"]


def _pipe_op(r, p, j, depth, joins, phase, seen):
    bases = _bases(joins)
    base = bases[(depth + p) % len(bases)]
    rs = random.Random(f"{phase}/{p}/{j}")
    while True:
        text, oracle, st = _pipe_query(r, random.Random(rs.random()), depth, joins, base)
        if text not in seen:
            break
    seen.add(text)
    return {"id": f"{phase[0]}{p}q{j}", "phase": phase, "pass": p, "kind": "pipe",
            "text": text, "oracle": oracle, **st}


def _warmup_pipe(seen, n=len(DEPTHS)):
    """Fixed pipelines of the timed passes' shapes; set-up runs them once, so
    the timed passes start with the front end, Catalyst and the code
    generator compiled by the JIT."""
    r = random.Random(WARMUP_SEED)
    return [_pipe_op(r, 0, j, depth, JOIN_COUNTS[depth % len(JOIN_COUNTS)], "warmup", seen)
            for j, depth in enumerate(DEPTHS)][:n]


def pipe_queries(seed):
    seen = set()
    warm = _warmup_pipe(seen, 4)
    r = random.Random(seed)
    slots = [((depth + k) % len(JOIN_COUNTS), depth) for k in (0, 1) for depth in DEPTHS]
    timed = [_pipe_op(r, p, j, depth, JOIN_COUNTS[joins], "timed", seen)
             for p in range(PIPE_PASSES) for j, (joins, depth) in enumerate(slots)]
    return warm + timed


# --------------------------------------------------------------------------
# dml_statements
# --------------------------------------------------------------------------
def _dml_pass(r, p, phase, prefix):
    """One script over a fresh table. Roles: write, read, violation."""
    t = f"{prefix}{p}"
    lo = r.randint(0, 150000 - DML_ROWS)
    hi = lo + DML_ROWS
    existing = set(range(lo, hi))
    fresh = iter(range(200000 + p * 1000, 200000 + (p + 1) * 1000))
    ops = []

    def add(role, text, **kw):
        ops.append({"id": f"{phase[0]}{p}s{len(ops)}", "phase": phase, "pass": p, "kind": "dml",
                    "text": text, "role": role, "expect_error": role == "violation", **kw})

    def batch():
        n_conf = round(DML_BATCH * DML_CONFLICT)
        keys = r.sample(sorted(existing), n_conf) + [next(fresh) for _ in range(DML_BATCH - n_conf)]
        r.shuffle(keys)
        rows = [f"({k}, {r.randint(0, 14999)}, '{r.choice('ABC')}', {r.randint(100, 99999)}.{r.randint(0, 99):02d}, {r.randint(0, 9)})"
                for k in keys]
        return keys, n_conf, ", ".join(rows)

    add("write", f"create table {t} (k bigint primary key, cust bigint not null, "
        f"status varchar not null, price decimal(12,2), qty integer default 1, check (qty >= 0))")
    add("write", f"insert into {t} select o_orderkey, o_custkey, o_orderstatus, "
        f"cast(o_totalprice as decimal(12,2)), cast(o_orderkey % 7 as integer) from orders "
        f"where o_orderkey >= {lo} and o_orderkey < {hi}")
    add("read", f"select status, count(*) as n, cast(sum(price) as double) as s from {t} group by status")
    keys, n_conf, rows = batch()
    add("write", f"insert or replace into {t} values {rows}", proposed=len(keys), conflicting=n_conf)
    existing.update(keys)
    add("violation", f"insert into {t} values ({r.choice(sorted(existing))}, 1, 'V', 1.00, 1)")
    keys, n_conf, rows = batch()
    add("write", f"insert or ignore into {t} values {rows}", proposed=len(keys), conflicting=n_conf)
    existing.update(keys)
    add("read", f"select count(*) as n, cast(sum(qty) as bigint) as q, max(k) as mk, min(k) as lk from {t}")
    keys, n_conf, rows = batch()
    add("write", f"insert into {t} values {rows} on conflict (k) do update "
        f"set qty = qty + excluded.qty, price = excluded.price", proposed=len(keys), conflicting=n_conf)
    existing.update(keys)
    add("violation", f"insert into {t} values ({next(fresh)}, null, 'V', 1.00, 1)")
    m = r.randint(3, 9)
    add("write", f"update {t} set price = price + 1.00 where k % {m} = {r.randint(0, m - 1)}")
    add("violation", f"insert into {t} values ({next(fresh)}, 1, 'V', 1.00, -{r.randint(1, 9)})")
    add("write", f"insert into {t} (k, cust, status, price) values ({next(fresh)}, {r.randint(0, 14999)}, 'D', 2.50)")
    a = r.randint(lo, hi - 30)
    add("read", f"select k, cust, status, cast(price as double) as price, qty from {t} "
        f"where k between {a} and {a + 25}")
    add("violation", f"update {t} set qty = -1 where k = {r.choice(sorted(existing))}")
    m = r.randint(3, 9)
    add("write", f"update {t} set status = 'Q', qty = qty * 2 where cust % {m} = {r.randint(0, m - 1)}")
    add("write", f"delete from {t} where qty > {r.randint(6, 12)}")
    add("read", f"select t.status, count(*) as n from {t} t join orders o on t.k = o.o_orderkey "
        f"where o.o_orderpriority = '{r.choice(FLAG_VALUES['o_orderpriority'])}' group by t.status")
    add("read", f"select count(*) as n, cast(sum(qty) as bigint) as q, "
        f"cast(sum(price) as double) as s from {t}")
    return ops


def dml_statements(seed):
    # set-up runs the first half of a fixed script: CREATE with constraints,
    # INSERT ... SELECT, reads, the three upsert forms and two violations
    warm = _dml_pass(random.Random(WARMUP_SEED), 0, "warmup", "pb_w")[:9]
    r = random.Random(seed)
    timed = []
    final = []
    for p in range(DML_PASSES):
        timed += _dml_pass(r, p, "timed", "pb_t")
        final.append({"id": f"f{p}", "phase": "final", "pass": p, "kind": "dml",
                      "text": f"select * from pb_t{p}", "role": "state"})
    return warm + timed + final


# --------------------------------------------------------------------------
# operator_pipelines
# --------------------------------------------------------------------------
def operator_pipelines(seed):
    r = random.Random(seed)
    # set-up runs every row once on the sf0.001 tables: otherwise the row
    # that comes first, which the seed picks, pays its operator's first
    # class loading and JIT compilation inside the timed pass
    ops = [{"id": f"w0r{i}", "phase": "warmup", "pass": 0, "kind": "row", "row": row, "small": True}
           for i, row in enumerate(OPERATOR_ROWS)]
    for p in range(OPERATOR_PASSES):
        rows = list(OPERATOR_ROWS)
        r.shuffle(rows)
        ops += [{"id": f"t{p}r{i}", "phase": "timed", "pass": p, "kind": "row", "row": row}
                for i, row in enumerate(rows)]
    return ops


WORKLOADS = {
    "pipe_queries": pipe_queries,
    "operator_pipelines": operator_pipelines,
    "dml_statements": dml_statements,
}


def generate(workload, seed):
    return WORKLOADS[workload](seed)


def stream_bytes(ops):
    """The canonical byte form of a stream, for determinism checks."""
    return "".join(json.dumps(op, sort_keys=True) + "\n" for op in ops).encode()


def properties(ops):
    """Input properties of the operations a run actually timed."""
    timed = [op for op in ops if op["phase"] == "timed"]
    out = {"operations": len(timed)}
    pipes = [op for op in timed if op["kind"] == "pipe"]
    if pipes:
        hist = {}
        for op in pipes:
            hist[op["stages"]] = hist.get(op["stages"], 0) + 1
        out["pipe_depth_histogram"] = {str(k): hist[k] for k in sorted(hist)}
        out["join_stages"] = sum(op["joins"] for op in pipes)
        out["repeat_share"] = 1 - len({op["text"] for op in pipes}) / len(pipes)
    dml = [op for op in timed if op["kind"] == "dml"]
    if dml:
        writes = [op for op in dml if op["role"] == "write"]
        out["write_share"] = len(writes) / len(dml)
        out["violation_share"] = sum(op["role"] == "violation" for op in dml) / len(dml)
        proposed = sum(op.get("proposed", 0) for op in writes)
        out["conflicting_key_share"] = (sum(op.get("conflicting", 0) for op in writes) / proposed
                                        if proposed else 0.0)
    rows = [op["row"] for op in timed if op["kind"] == "row"]
    if rows:
        out["rows"] = sorted(set(rows))
    return out
