#!/usr/bin/env python3
"""Differential fuzzer for the PSQL front-end.

Generates random pipe pipelines from a grammar restricted to the
Spark ∩ DuckDB shared SQL surface, runs them through graft (via
`graft.FuzzRun`), then runs DuckDB on the *reference's own rewrite* of the
same text (`A |> B |> C` → `FROM ( FROM ( A ) B ) C`, per
ywelsch/duckdb-psql README.md:70-87) and hash-compares results.

Usage: python3 tools/fuzz.py <sfDir> <workDir> [n] [seed]
(the script invokes sbt itself)
"""
import json, math, os, random, subprocess, sys
import duckdb

SF, WORK = sys.argv[1], sys.argv[2]
N = int(sys.argv[3]) if len(sys.argv) > 3 else 60
SEED = int(sys.argv[4]) if len(sys.argv) > 4 else 42
rnd = random.Random(SEED)

NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
KEY_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
STR_COLS = ["l_returnflag", "l_linestatus"]
DATES = ["1993-06-17", "1994-01-01", "1995-03-15", "1996-12-01", "1997-07-04"]


def filter_stage():
    kind = rnd.randrange(4)
    if kind == 0:
        return f"where {rnd.choice(NUM_COLS)} > {rnd.randrange(1, 40)}"
    if kind == 1:
        return f"where l_shipdate >= date '{rnd.choice(DATES)}'"
    if kind == 2:
        return f"where {rnd.choice(STR_COLS)} <> 'zz'"
    return f"where {rnd.choice(KEY_COLS)} % {rnd.randrange(2, 7)} = 0"


def project_stage():
    a, b = rnd.sample(NUM_COLS, 2)
    # alternate the cast SPELLING: CAST(x AS t) and x::t are the same
    # operation in DuckDB, and rewriteColonCasts must keep them the same
    # through the graft front-end (both land on GraftCast for int targets)
    if rnd.randrange(2) == 0:
        e1 = f"cast({a} * (1 - {b}) as double) as expr1"
    else:
        e1 = f"({a} * (1 - {b}))::double as expr1"
    k = rnd.choice(KEY_COLS)
    e2 = rnd.choice([
        f"cast({k} as int) as expr2",
        f"{k}::int as expr2",
        f"({k} % 97)::bigint as expr2",
        f"(('' || {k}) || '.5')::int as expr2",
    ])
    return (f"select l_orderkey, l_linenumber, {a}, {b}, {e1}, {e2}")


def agg_stage():
    g = rnd.choice(STR_COLS)
    a = rnd.choice(NUM_COLS)
    return (f"select {g}, cast(sum(cast({a} as decimal(18,2))) as double) as s, "
            f"cast(avg({a}) as double) as m, count(*) as c group by {g}")


def qualify_stage():
    # ties on the (non-unique) order key project to identical output tuples,
    # so the surviving multiset is engine-independent; select ONLY key cols
    k = rnd.randrange(1, 4)
    return ("select l_returnflag, l_orderkey, l_linenumber "
            "qualify row_number() over (partition by l_returnflag "
            "order by l_orderkey, l_linenumber) <= " + str(k))


def window_stage():
    # rank (not row_number): ties on a duplicate order key share the rank, so
    # per-row values stay deterministic across engines
    return ("select l_orderkey, l_linenumber, l_returnflag, "
            "rank() over (partition by l_returnflag order by l_orderkey) as rn")


def cte_head_pipeline():
    # DuckDB plain-paren CTE whose tail is FROM-first (reference regex shape)
    f = rnd.choice([f"l_quantity > {rnd.randrange(1, 40)}",
                    f"l_orderkey % {rnd.randrange(2, 7)} = 0"])
    g = rnd.randrange(1, 30)
    return (f"with a as (select l_orderkey, l_linenumber, l_returnflag, l_quantity "
            f"from lineitem where {f}) "
            f"from a |> where l_quantity > {g} |> "
            f"select l_returnflag, count(*) as c group by l_returnflag |> order by 1")


def by_name_pipeline():
    # top-level UNION [ALL] BY NAME between a pipeline and a scoped block:
    # columns meet by NAME (permuted projections), missing columns null-fill
    f1, f2 = filter_stage(), filter_stage()
    op = rnd.choice(["union by name", "union all by name"])
    cols = ["l_orderkey", "l_linenumber", "l_returnflag"]
    left = list(cols)
    rnd.shuffle(left)
    right = list(cols)
    rnd.shuffle(right)
    truncated = rnd.random() < 0.3
    if truncated:
        right = right[:-1]  # missing column → null-filled on that side
    # trailing clauses after the by-name block exercise the clause cut, and
    # pipe-stage tails (`|> …`) exercise the r7 pipe-first cut: the
    # reference rewrites `A union … B |> S` to `FROM ( A union … B ) S`, so
    # every tail stage applies to the WHOLE union. limit only when no
    # null-fill (Spark orders nulls first ASC, DuckDB last — a
    # null-crossing limit boundary would diverge)
    tail = ""
    r = rnd.random()
    if r < 0.30:
        tail = " order by all"
        if not truncated and rnd.random() < 0.6:
            tail += f" limit {rnd.randrange(10, 60)}"
    elif r < 0.55:
        tail = " |> order by all"
        if not truncated and rnd.random() < 0.6:
            tail += f" |> limit {rnd.randrange(10, 60)}"
    elif r < 0.75:
        tail = (f" |> where l_orderkey % {rnd.randrange(2, 5)} = 0"
                f" |> select l_orderkey, l_linenumber")
    return (f"from lineitem |> {f1} |> select {', '.join(left)} {op} "
            f"(| from lineitem |> {f2} |> select {', '.join(right)} |){tail}")


def hopping_pipeline():
    # hopping-window aggregation on an integer grid — the SQL face of q52's
    # hop pattern in the Spark∩DuckDB shared surface: each row lands in
    # exactly 2 windows via a 2-row hop relation joined on true, window
    # starts from floor-division arithmetic
    w = rnd.choice([64, 128, 256, 512])
    a = rnd.choice(NUM_COLS)
    # `hop` is referenced UNQUALIFIED in the stage after the join: the join
    # aliases live inside the previous stage's FROM parens and are out of
    # scope downstream (both engines agree); the column itself propagates
    return (f"from lineitem |> {filter_stage()} |> "
            f"as l join (select 0 as hop union all select 1 as hop) as r on 1 = 1 |> "
            f"select cast(floor(l_orderkey / {w}) as bigint)*{w} - hop*{w} as win_start, "
            f"l_returnflag, count(*) as c, "
            f"cast(sum(cast({a} as decimal(18,2))) as double) as s "
            f"group by win_start, l_returnflag |> order by all")


def block_pipeline():
    # scoped (| … |) blocks as CTE bodies + set op between them
    f1, f2 = filter_stage(), filter_stage()
    op = rnd.choice(["union", "union all", "intersect", "except"])
    cols = "l_orderkey, l_linenumber, l_returnflag"
    return (f"with a as (| from lineitem |> {f1} |> select {cols} |), "
            f"b as (| from lineitem |> {f2} |> select {cols} |) "
            f"from a {op} from b")


def asof_pipeline():
    # asof SQL stage (AsofSql scanner path): vary join type, conjunct order,
    # inequality direction and operand order, optional `as` on the right
    # alias. purchases_f is unique per (user_id, pts), so the payload pick is
    # deterministic in both engines; the final stage projects only
    # unambiguous names (DuckDB's subquery carries both sides' user_id).
    filt = rnd.choice(["where event_type <> 'zz'",
                       f"where user_id % {rnd.randrange(2, 5)} = 0",
                       f"where event_id % {rnd.randrange(2, 4)} = 0"])
    op = rnd.choice([">=", "<=", ">", "<"])  # incl. strict forms
    if rnd.random() < 0.3:  # flipped operand order, same semantics
        flip = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}
        time_cond = f"p.pts {flip[op]} e.ts"
    else:
        time_cond = f"e.ts {op} p.pts"
    jt = rnd.choice(["asof join", "asof left join"])
    ralias = rnd.choice(["as p", "p"])
    conds = ["e.user_id = p.user_id", time_cond]
    if rnd.random() < 0.3:
        conds.reverse()  # time inequality before the key equality
    return (f"from events |> {filt} |> select event_id, user_id, ts |> "
            f"as e {jt} purchases_f {ralias} on {' and '.join(conds)} |> "
            f"select event_id, purchase_value, pts")


def positional_pipeline():
    # positional join stage: left is totally ordered + limited, right is the
    # pos_r view (100 sorted unique keys); the shorter side null-pads, and
    # the limit above/below 100 exercises padding in both directions
    k = rnd.randrange(30, 160)
    return (f"from lineitem |> {filter_stage()} |> select l_orderkey, l_linenumber |> "
            f"order by all |> limit {k} |> positional join pos_r")


def pivot_pipeline():
    # PIVOT stage as a from-suffix; cells for absent combinations are NULL in
    # Spark and 0 in DuckDB's count, so a coalesce stage normalizes both
    if rnd.random() < 0.5:
        g, p, vals = "l_returnflag", "l_linestatus", [("O", "n_o"), ("F", "n_f")]
    else:
        g, p, vals = "l_linestatus", "l_returnflag", rnd.sample(
            [("A", "c_a"), ("N", "c_n"), ("R", "c_r")], 2)
    invals = ", ".join(f"'{v}' as {a}" for v, a in vals)
    coal = ", ".join(f"coalesce({a}, 0) as {a}" for _, a in vals)
    return (f"from lineitem |> {filter_stage()} |> select {g}, {p} |> "
            f"pivot (count({p}) for {p} in ({invals})) |> select {g}, {coal}")


def unpivot_pipeline():
    m = rnd.sample(NUM_COLS, rnd.choice([2, 3]))
    return (f"from lineitem |> {filter_stage()} |> "
            f"select l_orderkey, l_linenumber, {', '.join(m)} |> "
            f"unpivot include nulls (val for measure in ({', '.join(m)}))")


def block_in_stage_pipeline():
    # scoped block INSIDE a pipeline stage (the r10 placeholder-rewrite
    # shapes): a block IN-list subquery inside a where stage, or a block
    # scalar subquery inside a select stage — both meaningful to the
    # reference's two-pass regex too, so they fuzz differentially
    if rnd.random() < 0.5:
        inner = f"(| from lineitem |> {filter_stage()} |> select l_orderkey |)"
        return (f"from lineitem |> where l_orderkey in {inner} |> "
                f"select l_orderkey, l_linenumber |> order by all |> "
                f"limit {rnd.randrange(10, 60)}")
    a = rnd.choice(NUM_COLS)
    inner = f"(| from lineitem |> {filter_stage()} |> select cast(max({a}) as double) as m |)"
    return (f"from lineitem |> {filter_stage()} |> "
            f"select l_orderkey, l_linenumber, {inner} as mx |> "
            f"order by all |> limit {rnd.randrange(10, 60)}")


def replace_stage():
    # DuckDB-native star-REPLACE vs graft's pipe-SET mapping; *2 stays
    # exact in doubles
    a = rnd.choice(NUM_COLS)
    return f"select * replace ({a} * 2 as {a})"


def date_stage():
    # date-function battery in the Spark∩DuckDB identically-spelled surface
    # (q69's motivation; dayofweek/datediff excluded — conventions differ)
    fns = [
        "year(l_shipdate)",
        "quarter(l_shipdate)",
        "day(l_shipdate)",
        "dayofyear(l_shipdate)",
        "last_day(l_shipdate)",
        "cast(date_trunc('month', l_shipdate) as date)",
    ]
    picks = rnd.sample(fns, rnd.choice([2, 3]))
    cols = ", ".join(f"{e} as e{i}" for i, e in enumerate(picks))
    return f"select l_orderkey, l_linenumber, {cols}"


def exclude_stage():
    # window-frame EXCLUDE (graft rewrites to frame arithmetic; DuckDB runs
    # the clause natively). Integer sums so subtraction is exact; windows
    # ordered by the unique (okey, lineno) pair for ROWS frames, by the
    # non-unique l_quantity for RANGE (real peer groups for GROUP/TIES)
    kind = rnd.randrange(3)
    if kind == 0:
        # the synthetic lineitem is TPC-H-ISH: (okey, lineno) is NOT unique
        # (fuzz f219/seed 8008 found twin rows), so ROWS frames need the
        # aggregated value in the ordering too — then any tie permutes only
        # equal contributions and every positional slice keeps its multiset
        a, b = rnd.randrange(1, 6), rnd.randrange(0, 4)
        return ("select l_orderkey, l_linenumber, "
                f"sum(cast(l_quantity as bigint)) over (partition by l_returnflag "
                f"order by l_orderkey, l_linenumber, l_quantity rows between {a} preceding "
                f"and {b} following exclude current row) as w_ex")
    agg = rnd.choice(["sum(cast(l_quantity as bigint))", "count(*)",
                      "avg(cast(l_quantity as bigint))"])
    ex = rnd.choice(["group", "ties"])
    return ("select l_orderkey, l_linenumber, "
            f"{agg} over (partition by l_returnflag order by l_quantity "
            f"range between unbounded preceding and current row exclude {ex}) as w_ex")


def hash_sample_pipeline():
    # deterministic md5-keyed sampling: graft runs the hash(...) stage, the
    # DuckDB side runs the equivalent explicit predicate (duck override —
    # DuckDB has no hash sample syntax; the predicate IS the contract)
    pct = rnd.choice([5, 10, 20, 25])
    seed = rnd.randrange(1, 100)
    flt = filter_stage()
    tail = "select l_orderkey, l_linenumber, l_quantity |> order by all"
    g = (f"from lineitem |> {flt} |> using sample hash({pct}%, "
         f"concat(l_orderkey, '-', l_linenumber), {seed}) |> {tail}")
    d = (f"from lineitem |> {flt} |> where ('0x' || substr(md5('{seed}-' || "
         f"l_orderkey || '-' || l_linenumber), 1, 7))::BIGINT / 268435456.0 "
         f"< ({pct} / 100.0) |> {tail}")
    return g, d


def wfilter_stage():
    # FILTER on window aggregates — DuckDB runs the clause natively, graft
    # folds it into a conditional argument. Predicate and argument depend
    # only on the ORDER-key columns, so tie permutations (TPC-H-ish twin
    # keys) swap equal contributions and every frame slice keeps its
    # multiset
    agg_arg = "cast(l_quantity as bigint)"
    agg = rnd.choice([f"sum({agg_arg})", "count(*)", f"avg({agg_arg})",
                      f"min({agg_arg})", f"max({agg_arg})"])
    pred = rnd.choice(["l_quantity > 25", "l_orderkey % 3 = 0",
                       "l_linenumber % 2 = 0"])
    frame = rnd.choice([
        " rows between unbounded preceding and current row",
        " rows between 2 preceding and 2 following", ""])
    over = ("partition by l_returnflag order by l_orderkey, l_linenumber, "
            "l_quantity" + frame)
    return ("select l_orderkey, l_linenumber, "
            f"{agg} filter (where {pred}) over ({over}) as wf")


def groups_pipeline():
    # GROUPS-mode frames: graft rewrites to RANGE over a hidden dense_rank;
    # DuckDB 1.0.0 has no GROUPS mode ("not implemented yet"), so the duck
    # side states the identical peer-group definition through an explicit
    # dense_rank stage (pair family, like hash_sample)
    a, b = rnd.randrange(0, 3), rnd.randrange(0, 3)
    agg = rnd.choice(["sum(cast(l_quantity as bigint))", "count(*)"])
    ex = rnd.choice(["", " exclude group", " exclude ties"])
    frame = f"groups between {a} preceding and {b} following{ex}"
    flt = filter_stage()
    g = (f"from lineitem |> {flt} |> select l_orderkey, l_linenumber, "
         f"{agg} over (partition by l_returnflag order by l_quantity {frame}) as w |> "
         "order by all")
    d = (f"from lineitem |> {flt} |> "
         "select l_orderkey, l_linenumber, l_quantity, l_returnflag, "
         "dense_rank() over (partition by l_returnflag order by l_quantity) as dr |> "
         f"select l_orderkey, l_linenumber, {agg} over (partition by l_returnflag "
         f"order by dr range between {a} preceding and {b} following{ex}) as w |> "
         "order by all")
    return g, d


def bracket_stage():
    # DuckDB bracket syntax (1-based subscripts, slices, literals) — DuckDB
    # runs the identical spellings natively; graft shims to
    # element_at/slice/array
    i = rnd.choice([1, 2, 3, -1])
    a = rnd.randrange(1, 3)
    b = rnd.randrange(a, 4)
    return ("select l_orderkey, l_linenumber, "
            f"[l_quantity, l_tax, l_discount][{i}] as el, "
            f"[l_quantity, l_extendedprice, l_tax][{a}:{b}] as sl")


def pct_limit_tail():
    # DuckDB percentage limit; ordering covers every output column, so
    # boundary ties are identical rows and the kept multiset is
    # engine-independent
    pct = rnd.choice([5, 10, 25, 50])
    return ("select l_orderkey, l_linenumber, l_quantity |> "
            f"order by l_orderkey, l_linenumber, l_quantity limit {pct}%")


def regexop_stage():
    # SIMILAR TO / ~ / !~ / GLOB — all full-match in DuckDB (probed); graft
    # rewrites to anchored RLIKE. Flag cols hold single chars A/N/R | O/F.
    col = rnd.choice(STR_COLS)
    # NOT GLOB itself is a graft superset — DuckDB 1.0 cannot parse it —
    # so the negated-glob form fuzzes as not(x glob p), valid in both
    op = rnd.choice(["similar to", "not similar to", "~", "!~",
                     "glob", "notglob"])
    if "glob" in op:
        pat = rnd.choice(["[AN]", "[!N]", "?", "*", "[A-N]", "[NRF]"])
        if op == "notglob":
            return f"where not ({col} glob '{pat}')"
    else:
        # backslash classes included since r12: DuckDB literals carry the
        # backslash raw and graft re-embeds it doubled for Spark's literal
        # unescape (PsqlRewriter.reEmbed) — \w matches the single-char flag
        # values, \d never does, so both polarities fuzz differentially
        pat = rnd.choice(["[AN]", "A|R", "[^N]", "N.*", ".", "[NRF]?",
                          "\\w", "\\d", "\\w+", "\\D"])
    return f"where {col} {op} '{pat}'"


def arith_select_stage():
    # ^ / ** / // with precedence corners; integer-exact results only so
    # pow() stays bit-stable cross-engine
    e = rnd.choice([
        "cast(round(2 ^ l_linenumber) as bigint)",
        "cast(round(cast(l_quantity as int) ^ 2) as bigint)",
        f"l_orderkey // {rnd.randrange(2, 9)}",
        "cast(l_linenumber // 2 as bigint)",
        "cast(round(2 * l_linenumber ^ 2 - l_linenumber) as bigint)",
        "cast(round((-2) ^ l_linenumber) as bigint)",
        "cast(round(2 ** l_linenumber ** 1) as bigint)",
        "cast(round(-2 ^ 2 + l_linenumber) as bigint)",
    ])
    return f"select l_orderkey, l_linenumber, {e} as v"


def dotcall_select_stage():
    c = rnd.choice(STR_COLS)
    e = rnd.choice([
        f"{c}.lower()",
        f"{c}.lower().upper()",
        f"({c} || 'x').lower()",
        f"{c}.concat('y').lower()",
        f"{c}.substr(1, 1).lower()",
        f"{{'v': {c}, 'k': l_linenumber}}.v",
        f"{{'o': {{'i': {c}.lower()}}}}.o.i",
    ])
    return f"select l_orderkey, l_linenumber, {e} as s"


def datetime_select_stage():
    part = rnd.choice(["year", "quarter", "month", "week", "day",
                       "hour", "minute", "second"])
    anchor = rnd.choice(DATES)
    e = rnd.choice([
        f"date_diff('{part}', date '{anchor}', l_shipdate)",
        f"datediff('{part}', date '{anchor}', l_shipdate)",
        "strftime(l_shipdate, '%Y-%m')",
        "strftime(l_shipdate, '%d/%m/%Y')",
        "strftime(l_shipdate, '%YT%j')",
        "cast(epoch(l_shipdate) as bigint)",
    ])
    return f"select l_orderkey, l_linenumber, {e} as v"


def listfn_select_stage():
    c = rnd.choice(STR_COLS + ["l_shipmode" if False else "l_returnflag"])
    e = rnd.choice([
        f"len({c} || 'xy')",
        f"len(string_split({c} || ' q', ' '))",
        f"array_slice({c} || 'abcdef', 2, 4)",
        f"({c} || 'abcdef')[2:4]",
        f"({c} || 'abcdef')[-2:]",
        f"({c} || 'abcdef')[3]",
        f"list_element(string_split({c} || ' q r', ' '), -1)",
        f"list_value({c}, 'z')[1]",
        f"list_prepend({c}, list_value('a', 'b'))[1]",
        "cast(list_position(list_value('A', 'N', 'R'), 'N') as bigint)",
        "generate_series(1, l_linenumber % 5)",
    ])
    return f"select l_orderkey, l_linenumber, {e} as v"


def ops_pipeline():
    # r11 operator families: regex-match operators, ^/**-power, //-div,
    # dot-chaining — single-text (DuckDB runs the identical spellings)
    stages = ["from lineitem", filter_stage(), regexop_stage()]
    stages.append(rnd.choice([arith_select_stage, dotcall_select_stage,
                              datetime_select_stage, listfn_select_stage])())
    stages.append("order by all")
    stages.append(f"limit {rnd.randrange(5, 50)}")
    return " |> ".join(stages)


def pipeline():
    r = rnd.random()
    if r < 0.06:
        return block_in_stage_pipeline()
    if r < 0.12:
        return block_pipeline()
    if r < 0.24:
        return by_name_pipeline()
    if r < 0.30:
        return cte_head_pipeline()
    if r < 0.40:
        return asof_pipeline()
    if r < 0.46:
        return positional_pipeline()
    if r < 0.52:
        return pivot_pipeline()
    if r < 0.58:
        return unpivot_pipeline()
    if r < 0.64:
        return hopping_pipeline()
    if r < 0.68:
        return hash_sample_pipeline()  # (graft_text, duck_text) pair
    if r < 0.72:
        return groups_pipeline()  # (graft_text, duck_text) pair
    if r < 0.80:
        return ops_pipeline()
    stages = ["from lineitem"]
    for _ in range(rnd.randrange(1, 4)):
        stages.append(filter_stage())
    shape = rnd.randrange(14)
    if shape == 10:
        stages.append(exclude_stage())
        stages.append("order by all")
        stages.append(f"limit {rnd.randrange(5, 50)}")
        return " |> ".join(stages)
    if shape == 11:
        stages.append(wfilter_stage())
        stages.append("order by all")
        stages.append(f"limit {rnd.randrange(5, 50)}")
        return " |> ".join(stages)
    if shape == 12:
        stages.append(bracket_stage())
        stages.append("order by all")
        stages.append(f"limit {rnd.randrange(5, 50)}")
        return " |> ".join(stages)
    if shape == 13:
        stages.append(pct_limit_tail())
        return " |> ".join(stages)
    if shape == 8:
        stages.append(date_stage())
        stages.append("order by all")
        stages.append(f"limit {rnd.randrange(5, 50)}")
        return " |> ".join(stages)
    if shape == 9:
        stages.append(replace_stage())
        stages.append("select l_orderkey, l_linenumber, " + ", ".join(NUM_COLS))
        stages.append("order by all")
        stages.append(f"limit {rnd.randrange(5, 50)}")
        return " |> ".join(stages)
    if shape == 7:
        # DISTINCT ON: graft rewrites to a row_number window; DuckDB runs the
        # stage natively. Deterministic: picks min (okey, lineno) per flag,
        # ties project to identical tuples
        stages.append("select distinct on (l_returnflag) l_returnflag, l_orderkey, l_linenumber "
                      "order by l_returnflag, l_orderkey, l_linenumber")
        return " |> ".join(stages)
    if shape == 5:
        stages.append(qualify_stage())
        stages.append("order by all")
    elif shape == 6:
        stages.append(window_stage())
        stages.append("order by all")
        stages.append(f"limit {rnd.randrange(5, 50)}")
    elif shape == 0:
        stages.append(agg_stage())
        stages.append("order by 1")
    elif shape == 3:
        stages.append(f"select distinct {', '.join(rnd.sample(STR_COLS + ['l_linenumber'], 2))}")
        stages.append("order by all")
    elif shape == 4:
        a = rnd.choice(NUM_COLS)
        stages.append(
            f"select l_returnflag, l_linestatus, "
            f"cast(sum(cast({a} as decimal(18,2))) as double) as s, count(*) as c "
            f"group by rollup(l_returnflag, l_linestatus)")
        stages.append("order by all")
    elif shape == 1:
        stages.append(project_stage())
        stages.append("order by all")
        stages.append(f"limit {rnd.randrange(5, 50)}")
    else:
        stages.append(
            "as l join orders on l.l_orderkey = orders.o_orderkey")
        stages.append("select l_orderkey, l_linenumber, o_orderdate, "
                      "cast(o_totalprice as double) as tp")
        stages.append("order by all")
        stages.append(f"limit {rnd.randrange(5, 50)}")
    return " |> ".join(stages)


def stmt_pred(cols=("k", "ln", "q", "f")):
    """Random predicate over the DML scratch table; nullif injects NULLs to
    probe three-valued WHERE/clause logic in both engines."""
    kind = rnd.randrange(5)
    if kind == 0:
        return f"q > {rnd.randrange(1, 40)}"
    if kind == 1:
        return f"k % {rnd.randrange(2, 9)} = {rnd.randrange(0, 2)}"
    if kind == 2:
        return f"nullif(q, {rnd.randrange(1, 30)}) > {rnd.randrange(1, 30)}"
    if kind == 3:
        return f"f = '{rnd.choice(['A', 'N', 'R'])}'"
    return (f"q > {rnd.randrange(1, 20)} and ln <= {rnd.randrange(2, 6)}")


def stmt_assign():
    """SET assignments exercising assignment-cast semantics: decimal
    half-away, double half-even, string concat — GraftCast vs DuckDB."""
    return rnd.choice([
        "q = q + ln",
        f"q = (q * 1.5)::bigint",            # decimal → bigint: half-away
        f"q = (q * 0.5e0)::bigint",          # double → bigint: half-even
        f"q = cast(q + 0.5 as bigint)",      # cast() spelling, same kernel
        "f = f || 'x'",
        f"ln = (ln * 2.5)::int",
    ])


def onconflict_script(name):
    """INSERT … ON CONFLICT family: a unique-keyed scratch table (the duck
    side declares the PRIMARY KEY its ON CONFLICT needs; the graft side
    takes the explicit conflict target — the documented seam), then random
    DO UPDATE [WHERE] / DO NOTHING batches exercising bare-target-name
    scoping, excluded.* references, NULL-WHERE three-valued logic and
    partial column lists. Same statement TEXT in both engines; sources
    aggregate per key so the duplicate-batch-key error path never fires."""
    t = f"fz_{name}"
    p = rnd.choice([3, 5, 7])
    seed_sel = (f"select l_orderkey as k, max(l_linenumber) as ln, "
                f"cast(sum(cast(l_quantity as bigint)) as bigint) as q, "
                f"min(l_returnflag) as f "
                f"from lineitem where l_orderkey % {p} = 0 group by l_orderkey")
    spark = [f"create or replace table {t} as {seed_sel}"]
    duck = [f"CREATE OR REPLACE TEMP TABLE {t} "
            f"(k BIGINT PRIMARY KEY, ln INTEGER, q BIGINT, f VARCHAR)",
            f"INSERT INTO {t} {seed_sel}"]
    for _ in range(rnd.randrange(2, 4)):
        m = rnd.choice([2, 4, 6, 11])
        off = rnd.randrange(0, 3) * 10 ** 7  # 0 → overlaps the seed keys
        src = (f"select l_orderkey + {off} as k, min(l_linenumber) as ln, "
               f"cast(count(*) as bigint) as q, 'C' as f from lineitem "
               f"where l_orderkey % {m} = 0 group by l_orderkey")
        kind = rnd.randrange(3)
        if kind == 0:
            s = f"insert into {t} {src} on conflict (k) do nothing"
        elif kind == 1:
            assigns = rnd.choice([
                "q = q + excluded.q, f = f || excluded.f",
                "q = excluded.q, ln = excluded.ln",
                "f = 'U' || f",
            ])
            # WHERE stays NULL-free: DuckDB 1.0's BULK conflict path treats a
            # NULL DO-UPDATE-WHERE as TRUE while its small-batch path (and
            # Postgres, and graft) treat it as FALSE — probed live: the same
            # `nullif(q,55)>24` row updates in a 7500-row batch and stays put
            # in a 5-row one. The NULL-WHERE contract is pinned in
            # OnConflictSpec instead; the differential here would be testing
            # the oracle's bug, not the engine.
            w = rnd.choice([
                "", f" where q < {rnd.randrange(50, 400)}",
                f" where excluded.q > {rnd.randrange(1, 8)}",
                f" where q % 7 < {rnd.randrange(2, 6)}"])
            s = f"insert into {t} {src} on conflict (k) do update set {assigns}{w}"
        else:
            # partial column list: unlisted columns NULL-fill on inserts
            s = (f"insert into {t} (k, q) select l_orderkey + {off}, "
                 f"cast(count(*) as bigint) from lineitem "
                 f"where l_orderkey % {m} = 0 group by l_orderkey "
                 f"on conflict (k) do update set q = q + excluded.q")
        spark.append(s)
        duck.append(s)
    spark.append(f"from {t} |> order by all")
    duck.append(f"SELECT * FROM {t} ORDER BY ALL")
    return {"name": name, "psql": "\n;;\n".join(spark), "duck_script": duck}


def seqvar_script(name):
    """Session-state family (r14 verdict item 8): sequences — the SAME
    statement text in both engines (DuckDB 1.0 has native sequences; graft
    inlines per-occurrence at bind time) — and session variables, where
    DuckDB 1.0 predates SET VARIABLE so the oracle is the documented
    equivalent: an EAGER snapshot table captured at SET time, read back as
    a scalar subquery wherever graft reads getvariable()."""
    t = f"fz_{name}"
    if rnd.randrange(2) == 0:
        start = rnd.randrange(1, 5000)
        inc = rnd.choice([1, 2, 3, 5, -2])
        # descending sequences need an explicit MAXVALUE >= start (DuckDB's
        # default descending MAXVALUE is -1 and out-of-bounds START is a
        # parser error — probed; graft mirrors it); occasionally exercise
        # CYCLE wrap-around on a tight ascending bound
        bounds = f" maxvalue {start}" if inc < 0 else (
            f" maxvalue {start + rnd.randrange(4, 9)} cycle"
            if rnd.randrange(4) == 0 else "")
        stmts = [f"create or replace sequence {t}_seq start {start} increment {inc}{bounds}",
                 f"create or replace table {t} as "
                 f"select cast(0 as bigint) as id, cast(0 as bigint) as q where 1 = 0"]
        for _ in range(rnd.randrange(2, 4)):
            vals = ", ".join(
                f"(nextval('{t}_seq'), {rnd.randrange(1, 99)})"
                for _ in range(rnd.randrange(1, 4)))
            stmts.append(f"insert into {t} values {vals}")
        if rnd.randrange(2) == 0:
            stmts.append(
                f"insert into {t} values (currval('{t}_seq') + {rnd.randrange(100, 999)}, 1)")
        spark = stmts + [f"from {t} |> order by all"]
        duck = [st.replace(f"create or replace table {t} as",
                           f"CREATE OR REPLACE TEMP TABLE {t} AS") for st in stmts]
        duck.append(f"SELECT * FROM {t} ORDER BY ALL")
        return {"name": name, "psql": "\n;;\n".join(spark), "duck_script": duck}
    p = rnd.choice([3, 5, 7])
    seed_sel = (f"select l_orderkey as k, l_linenumber as ln, "
                f"cast(l_quantity as bigint) as q, l_returnflag as f "
                f"from lineitem where l_orderkey % {p} = 0")
    expr = rnd.choice([
        f"(select max(l_orderkey) from lineitem where l_orderkey % {rnd.randrange(3, 9)} = 0)",
        f"{rnd.randrange(5, 60)}",
        f"(select cast(count(*) as bigint) from lineitem "
        f"where l_linenumber = {rnd.randrange(1, 5)})",
    ])
    d = rnd.randrange(2, 6)
    m = rnd.randrange(17, 53)
    v = f"{t}_v"
    spark = [f"create or replace table {t} as {seed_sel}",
             f"set variable {v} = {expr}",
             f"delete from {t} where k < getvariable('{v}') / {d}",
             f"update {t} set q = q + getvariable('{v}') % 7 where ln = 1",
             f"from {t} |> where q % {m} <> getvariable('{v}') % {m} |> order by all"]
    duck = [f"CREATE OR REPLACE TEMP TABLE {t} AS {seed_sel}",
            # the documented equivalent of eager SET-time evaluation
            f"CREATE OR REPLACE TEMP TABLE {v}_snap AS SELECT ({expr}) AS v",
            f"DELETE FROM {t} WHERE k < (SELECT v FROM {v}_snap) / {d}",
            f"UPDATE {t} SET q = q + (SELECT v FROM {v}_snap) % 7 WHERE ln = 1",
            f"SELECT * FROM {t} WHERE q % {m} <> (SELECT v FROM {v}_snap) % {m} "
            f"ORDER BY ALL"]
    return {"name": name, "psql": "\n;;\n".join(spark), "duck_script": duck}


def constraints_script(name):
    """Constraint-surface family (r15): CREATE TABLE with PRIMARY KEY /
    NOT NULL / DEFAULT / CHECK, default-filling column-list inserts, the
    bare DEFAULT keyword in VALUES, UPDATE SET c = DEFAULT, and the
    PK-inferring upserts (INSERT OR REPLACE incl. partial column lists,
    OR IGNORE, bare ON CONFLICT) — the SAME statement text in both engines
    (DuckDB 1.0 carries all of it natively). Scripts stay violation-free:
    the differential compares final contents, not error paths (those are
    spec-pinned with DuckDB's exact messages)."""
    t = f"fz_{name}"
    d = rnd.randrange(1, 50)
    p = rnd.choice([3, 5, 7])
    create = (f"create or replace table {t} (k bigint primary key, "
              f"ln integer not null, q bigint default {d}, "
              f"f varchar default 'D', check (q >= 0))")
    seed = (f"insert into {t} (k, ln, q) select l_orderkey, "
            f"cast(min(l_linenumber) as integer), "
            f"cast(sum(cast(l_quantity as bigint)) as bigint) from lineitem "
            f"where l_orderkey % {p} = 0 group by l_orderkey")
    spark = [create, seed]
    duck = [create.replace(f"create or replace table {t}",
                           f"CREATE OR REPLACE TEMP TABLE {t}"), seed]
    lit_key = 9 * 10 ** 8 + rnd.randrange(0, 10 ** 6)
    for _ in range(rnd.randrange(2, 4)):
        kind = rnd.randrange(5)
        m = rnd.choice([2, 4, 6, 11])
        off = rnd.choice([0, 10 ** 7])
        src = (f"select l_orderkey + {off} as k, "
               f"cast(count(*) as integer) as ln, "
               f"cast(count(*) * {rnd.randrange(1, 9)} as bigint) as q "
               f"from lineitem where l_orderkey % {m} = 0 group by l_orderkey")
        if kind == 0:
            # partial column list: unlisted columns keep OLD values on
            # replaced rows, take defaults on inserted ones (probed)
            stmt = f"insert or replace into {t} (k, ln, q) {src}"
        elif kind == 1:
            stmt = (f"insert or ignore into {t} (k, ln) "
                    f"select k, ln from ({src}) s")
        elif kind == 2:
            stmt = (f"insert into {t} (k, ln) select k, ln from ({src}) s "
                    f"on conflict do update set q = q + 1, f = f || '+'")
        elif kind == 3:
            vals = ", ".join(
                f"({lit_key + j}, {rnd.randrange(1, 9)}, default, default)"
                for j in range(rnd.randrange(1, 3)))
            lit_key += 10
            stmt = f"insert into {t} values {vals}"
        else:
            stmt = (f"update {t} set f = default, q = q + 1 "
                    f"where k % {rnd.randrange(5, 17)} = 1")
        spark.append(stmt)
        duck.append(stmt)
    spark.append(f"from {t} |> order by all")
    duck.append(f"SELECT * FROM {t} ORDER BY ALL")
    return {"name": name, "psql": "\n;;\n".join(spark), "duck_script": duck}


def fkenforce_script(name):
    """FK-enforcement-ON family (r17): the spark side SETs
    graft_enforce_foreign_keys (DuckDB enforces always-on, so its script
    just omits the SET), builds a literal parent + an orders-derived child
    under a recorded FK, and mixes VALID child inserts/updates/deletes and
    parent non-key/unreferenced-key writes with REJECTED statements —
    orphan inserts/updates, referenced-parent DELETE and key UPDATE —
    marked `--expect-error` so BOTH engines must throw (FuzzRun and the
    duck loop each fail a query whose expected error does not fire). The
    final dump unions both tables' surviving state."""
    t = f"fz_{name}"
    K = rnd.randrange(8, 14)          # parent keys 0..K-1
    par_vals = ", ".join(f"({i}, '{chr(97 + i % 26)}')" for i in range(K))
    spark = ["set graft_enforce_foreign_keys = true"]
    duck = []
    both = []  # statements shared verbatim

    both.append(f"create or replace table {t}_par (k bigint primary key, seg varchar)")
    both.append(f"insert into {t}_par values {par_vals}")
    # child WITHOUT a PRIMARY KEY: DuckDB 1.0's documented ART limitation
    # rejects any UPDATE of a PK+FK table with a spurious duplicate-key
    # error, and the family needs child UPDATEs to run
    both.append(f"create or replace table {t}_chi (id bigint, "
                f"fk bigint references {t}_par (k), q bigint)")
    max_m = 2
    for _ in range(rnd.randrange(1, 3)):
        p = rnd.choice([3, 5, 7])
        m = rnd.randrange(2, K - 1)
        max_m = max(max_m, m)
        # payload stays integer-exact: a double->bigint cast would test the
        # documented pass-through cast divergence, not FK enforcement
        both.append(f"insert into {t}_chi select o_orderkey, o_orderkey % {m}, "
                    f"(o_orderkey * 7) % 1000 from orders "
                    f"where o_orderkey % {p} = 0")
    # NULL FK passes (MATCH SIMPLE, probed)
    both.append(f"insert into {t}_chi values (900000099, null, 1)")
    for _ in range(rnd.randrange(1, 4)):
        kind = rnd.randrange(5)
        if kind == 0:      # child update to a VALID parent (stay < max_m so
            x = rnd.randrange(0, max_m)  # the unreferenced-delete below holds)
            both.append(f"update {t}_chi set fk = {x} "
                        f"where id % {rnd.randrange(5, 11)} = 1")
        elif kind == 1:    # child update to NULL passes
            both.append(f"update {t}_chi set fk = null "
                        f"where id % {rnd.randrange(7, 13)} = 2")
        elif kind == 2:    # child delete always passes
            both.append(f"delete from {t}_chi where id % {rnd.randrange(6, 12)} = 3")
        elif kind == 3:    # parent NON-key update passes even on referenced rows
            both.append(f"update {t}_par set seg = seg || 'z' "
                        f"where k % {rnd.randrange(2, 5)} = 0")
        else:              # orphan child insert REJECTED in both engines
            both.append(f"--expect-error\ninsert into {t}_chi values "
                        f"(900000077, {K + rnd.randrange(3, 40)}, 1)")
    # a row guaranteed to reference parent k=1 pins the rejected
    # parent-side writes below
    both.append(f"insert into {t}_chi values (900000088, 1, 5)")
    both.append(f"--expect-error\nupdate {t}_chi set fk = -3 where id = 900000088")
    both.append(f"--expect-error\ndelete from {t}_par where k = 1")
    both.append(f"--expect-error\nupdate {t}_par set k = k + 1000 where k = 1")
    if rnd.randrange(2) == 0:  # parent keys >= max_m are never referenced
        both.append(f"delete from {t}_par where k >= {max_m}")
    spark += both
    duck += both
    dump = (f"select 'c' as src, c.id as a, c.fk as b, p.seg as s, c.q as q "
            f"from {t}_chi c left join {t}_par p on p.k = c.fk "
            f"union all "
            f"select 'p', k, cast(null as bigint), seg, cast(null as bigint) "
            f"from {t}_par order by all")
    spark.append(dump)
    duck.append(dump)
    return {"name": name, "psql": "\n;;\n".join(spark), "duck_script": duck}


def dml_script(name):
    """Statement-script family: CREATE OR REPLACE TABLE seed, then random
    DELETE/UPDATE/INSERT/MERGE statements, final ORDER BY ALL dump.
    FUZZ_FAMILY=fk forces every query onto the FK-enforcement family (the
    dedicated seed runs); unset, the families rotate. The
    spark side executes the script through the front-end (graft.FuzzRun
    splits on `;;` lines); DuckDB executes the SAME statements — except
    MERGE (absent in 1.0), which gets the documented-equivalent
    DELETE USING / UPDATE FROM / INSERT sequence generated here, i.e. an
    INDEPENDENT python formulation of the clause algebra, so the
    differential covers MERGE semantics, not just its parsing.
    The script families rotate: INSERT … ON CONFLICT, session state
    (sequences/variables), and the r15 constraint surface."""
    if os.environ.get("FUZZ_FAMILY", "") == "fk":
        return fkenforce_script(name)
    if os.environ.get("FUZZ_FAMILY", "") == "enum":
        return enumorder_script(name)
    if os.environ.get("FUZZ_FAMILY", "") == "plain":
        return plaindialect_script(name)
    r0 = rnd.random()
    if r0 < 0.13:
        return onconflict_script(name)
    if r0 < 0.26:
        return seqvar_script(name)
    if r0 < 0.39:
        return constraints_script(name)
    if r0 < 0.50:
        return fts_script(name)
    if r0 < 0.60:
        return recursive_script(name)
    if r0 < 0.68:
        return enumorder_script(name)
    if r0 < 0.76:
        return fkenforce_script(name)
    if r0 < 0.84:
        return plaindialect_script(name)
    t = f"fz_{name}"
    p = rnd.choice([3, 5, 7])
    seed_sel = (f"select l_orderkey as k, l_linenumber as ln, "
                f"cast(l_quantity as bigint) as q, l_returnflag as f "
                f"from lineitem where l_orderkey % {p} = 0")
    spark = [f"create or replace table {t} as {seed_sel}"]
    duck = [f"CREATE OR REPLACE TEMP TABLE {t} AS {seed_sel}"]
    for _ in range(rnd.randrange(2, 5)):
        kind = rnd.randrange(5)
        if kind == 4:
            # join DML, same text in both engines: DELETE USING (multi-
            # match dedups) and UPDATE FROM (unique-keyed source, so
            # DuckDB's arbitrary-pick and graft's fail-loud never diverge)
            m = rnd.choice([40, 60, 90])
            jsrc_sel = (f"select l_orderkey % {m * 10} as jk, count(*) as jq "
                        f"from lineitem group by 1")
            spark.append(f"create or replace table {t}_jsrc as {jsrc_sel}")
            duck.append(f"CREATE OR REPLACE TEMP TABLE {t}_jsrc AS {jsrc_sel}")
            jc = rnd.choice([f"s.jq > {rnd.randrange(2, 12)}",
                             f"nullif(s.jq, {rnd.randrange(2, 8)}) > {rnd.randrange(2, 8)}"])
            if rnd.randrange(2) == 0:
                s = (f"delete from {t} using {t}_jsrc s "
                     f"where {t}.k = s.jk and {jc}")
            else:
                s = (f"update {t} set q = {t}.q + s.jq from {t}_jsrc s "
                     f"where {t}.k = s.jk and {jc}")
            spark.append(s)
            duck.append(s)
            continue
        if kind == 0:
            # occasionally CTE-prefixed (r15 WITH-DML): same text in both
            # engines — the CTE captures a key set the DELETE consumes
            if rnd.randrange(3) == 0:
                m2 = rnd.randrange(2, 7)
                s = (f"with doomed as (select k from {t} where k % {m2} = 0) "
                     f"delete from {t} where k in (select k from doomed) "
                     f"and {stmt_pred()}")
            else:
                s = f"delete from {t} where {stmt_pred()}"
            spark.append(s)
            duck.append(s)
        elif kind == 1:
            # 1-2 assignments, distinct target columns (duplicates error)
            by_col = dict(a.split(" = ", 1)
                          for a in [stmt_assign() for _ in range(rnd.randrange(1, 3))])
            assigns = ", ".join(f"{c} = {e}" for c, e in by_col.items())
            s = f"update {t} set {assigns} where {stmt_pred()}"
            spark.append(s)
            duck.append(s)
        elif kind == 2:
            k1, k2 = rnd.randrange(10 ** 7, 2 * 10 ** 7), rnd.randrange(10 ** 7, 2 * 10 ** 7)
            v = rnd.randrange(3)
            if v == 0:
                s = (f"insert into {t} values ({k1}, 1, {rnd.randrange(1, 50)}, 'Z'), "
                     f"({k2}, 2, {rnd.randrange(1, 50)} + 3, 'Y')")
            elif v == 1:
                s = (f"insert into {t} select l_orderkey + {k1}, l_linenumber, "
                     f"cast(l_quantity as bigint), l_returnflag from lineitem "
                     f"where l_orderkey % 11 = {rnd.randrange(0, 3)} and l_linenumber = 1")
            else:
                # BY NAME: reordered + partial column set, NULL-filled rest
                s = (f"insert into {t} by name select 'B' as f, "
                     f"l_orderkey + {k1} as k from lineitem "
                     f"where l_orderkey % 13 = {rnd.randrange(0, 3)} and l_linenumber = 1")
            spark.append(s)
            duck.append(s)
        else:
            m = rnd.choice([4, 6, 9])
            src_sel = (f"select l_orderkey % {m * 100} as k, count(*) as q2, "
                       f"min(l_linenumber) as ln2 from lineitem group by 1")
            spark.append(f"create or replace table {t}_src as {src_sel}")
            duck.append(f"CREATE OR REPLACE TEMP TABLE {t}_src AS {src_sel}")
            c1 = rnd.choice([f"s.q2 > {rnd.randrange(2, 9)}",
                             f"nullif(s.q2, {rnd.randrange(2, 6)}) > {rnd.randrange(2, 6)}"])
            c2 = rnd.choice([f"s.q2 <= {rnd.randrange(2, 9)}",
                             f"s.k % 2 = {rnd.randrange(0, 2)}"])
            # optional NOT MATCHED BY SOURCE tail clause (r14 verdict
            # item 8): acts on ORIGINAL target rows with no source match —
            # null-free condition on target columns
            bys = rnd.randrange(3)
            r3 = rnd.randrange(0, 5)
            bys_clause = (
                "" if bys == 0 else
                f" when not matched by source and tt.q % 5 = {r3} then "
                "update set f = f || '!'" if bys == 1 else
                " when not matched by source then delete")
            spark.append(
                f"merge into {t} tt using {t}_src s on tt.k = s.k "
                f"when matched and {c1} then delete "
                f"when matched then update set q = tt.q + s.q2 "
                f"when not matched and {c2} then "
                f"insert (k, ln, q, f) values (s.k, s.ln2, s.q2, 'M')"
                + bys_clause)
            # equivalent sequence, derived from the clause algebra and NOT
            # from the Scala lowering: delete first-wins rows, update the
            # fall-through matches (deleted rows are gone; c1 false/NULL
            # remain), insert against the ORIGINAL key set
            duck.append(f"CREATE OR REPLACE TEMP TABLE {t}_keys AS SELECT k FROM {t}")
            duck.append(f"DELETE FROM {t} USING {t}_src s "
                        f"WHERE {t}.k = s.k AND coalesce(({c1}), false)")
            duck.append(f"UPDATE {t} SET q = {t}.q + s.q2 FROM {t}_src s "
                        f"WHERE {t}.k = s.k")
            # by-source equivalent BEFORE the inserts: the acted-on set is
            # target rows whose key has no source match (disjoint from every
            # matched clause; inserts must not be acted on)
            if bys == 1:
                duck.append(f"UPDATE {t} SET f = f || '!' "
                            f"WHERE q % 5 = {r3} "
                            f"AND k NOT IN (SELECT k FROM {t}_src)")
            elif bys == 2:
                duck.append(f"DELETE FROM {t} "
                            f"WHERE k NOT IN (SELECT k FROM {t}_src)")
            duck.append(f"INSERT INTO {t} SELECT s.k, s.ln2, s.q2, 'M' FROM {t}_src s "
                        f"WHERE coalesce(({c2}), false) "
                        f"AND s.k NOT IN (SELECT k FROM {t}_keys)")
    if rnd.random() < 0.25:
        # RETURNING differential: the compared relation is the statement's
        # own returned rows (DuckDB executes the same text)
        ret = rnd.choice([
            f"delete from {t} where {stmt_pred()} returning k, ln, q, f",
            f"update {t} set q = q + 1 where {stmt_pred()} returning k, q",
        ])
        spark.append(ret)
        duck.append(ret)
    else:
        spark.append(f"from {t} |> order by all")
        duck.append(f"SELECT * FROM {t} ORDER BY ALL")
    return {"name": name, "psql": "\n;;\n".join(spark), "duck_script": duck}


def reference_rewrite(q):
    # replicate the reference's two regex passes (psql_extension.cpp:28-73):
    # each (| body |) block becomes "( <pipe-rewritten body> )", surrounding
    # text is pipe-rewritten too
    import re

    def pipe(s):
        parts = s.split(" |> ")
        acc = parts[0]
        for stage in parts[1:]:
            acc = f"FROM ( {acc} ) {stage}"
        return acc

    # blocks are substituted INLINE before the outer pipe pass: the
    # reference's own regex rewrites pre-block and post-block text
    # separately, so a pipe chain spanning a block boundary
    # (`… union by name (| … |) |> order by all`) is a shape its rewrite
    # cannot express — graft supports it (nesting-aware front-end), and the
    # DuckDB oracle needs the whole-statement pipe split to give those tail
    # stages their reference nested-FROM meaning
    while True:
        m = re.search(r"\(\|(.*?)\|\)", q, re.S)
        if not m:
            break
        q = q[:m.start()] + " ( " + pipe(m.group(1).strip()) + " ) " + q[m.end():]
    return pipe(q)


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)




def enumorder_script(name):
    """r16 family: enum declaration-order ORDER BY + main.-qualified DML.
    The enum member list is SHUFFLED (never alphabetical by construction
    when it matters) and the final probe sorts by the enum column under a
    LIMIT, so a lexical sort would change the CONTENT. DML targets are
    spelled main.<t> — DuckDB's default schema natively, the front-end's
    resolveTarget here. The duck side uses NON-temp tables (a TEMP table
    lives in temp.main, where the main. spelling would not resolve)."""
    t = f"fz_{name}"
    ty = f"{t}_e"
    members = rnd.sample(["A", "N", "R"], 3)
    mem_sql = ", ".join(f"'{m}'" for m in members)
    p = rnd.choice([3, 5, 7])
    m = rnd.randrange(2, 9)
    lim = rnd.randrange(200, 900)
    spark = [
        f"drop table if exists {t}",
        f"drop type if exists {ty}",
        f"create type {ty} as enum ({mem_sql})",
        f"create table {t} (k bigint primary key, fl {ty}, q bigint default 1)",
        f"insert into main.{t} (k, fl) select l_orderkey, min(l_returnflag) "
        f"from lineitem where l_orderkey % {p} = 0 group by l_orderkey",
        f"update main.{t} set q = q + 1 where k % {m} = 0",
    ]
    duck = [
        f"DROP TABLE IF EXISTS {t}",
        f"DROP TYPE IF EXISTS {ty}",
        f"CREATE TYPE {ty} AS ENUM ({mem_sql})",
        f"CREATE TABLE {t} (k BIGINT PRIMARY KEY, fl {ty}, q BIGINT DEFAULT 1)",
        f"INSERT INTO main.{t} (k, fl) SELECT l_orderkey, min(l_returnflag) "
        f"FROM lineitem WHERE l_orderkey % {p} = 0 GROUP BY l_orderkey",
        f"UPDATE main.{t} SET q = q + 1 WHERE k % {m} = 0",
    ]
    # final-probe VARIANTS (all content-visible: the LIMIT lands inside
    # different member groups under declaration vs lexical order). r17:
    # alias-shadow and subquery-projection scoping probed on DuckDB 1.0.
    v = rnd.randrange(4)
    if v == 0:   # declaration-order pipe sort (the r16 shape)
        spark.append(f"from {t} |> order by fl, k |> limit {lim} "
                     f"|> select k, cast(fl as varchar) as fl, q |> order by k")
        duck.append(f"SELECT k, cast(fl AS VARCHAR) AS fl, q "
                    f"FROM (SELECT * FROM {t} ORDER BY fl, k LIMIT {lim}) ORDER BY k")
    elif v == 1:  # same-named OUTPUT ALIAS shadows the enum → lexical
        spark.append(f"from {t} |> select k, cast(fl as varchar) as fl, q "
                     f"|> order by fl, k |> limit {lim} |> order by k")
        duck.append(f"SELECT * FROM (SELECT k, cast(fl AS VARCHAR) AS fl, q "
                    f"FROM {t} ORDER BY fl, k LIMIT {lim}) ORDER BY k")
    elif v == 2:  # SUBQUERY casts the enum away → lexical outer sort
        # bare table name: the main. spelling resolves for DML TARGETS
        # (resolveTarget), not inside read queries
        spark.append(f"select k, fl, q from (select k, cast(fl as string) as fl, q "
                     f"from {t}) order by fl, k limit {lim}")
        duck.append(f"SELECT k, fl, q FROM (SELECT k, cast(fl AS VARCHAR) AS fl, q "
                    f"FROM {t}) ORDER BY fl, k LIMIT {lim}")
    else:        # subquery-ALIAS-qualified passthrough → declaration order
        spark.append(f"select k, cast(fl as string) as flv, q from "
                     f"(select * from {t}) s order by s.fl, s.k limit {lim}")
        duck.append(f"SELECT k, cast(fl AS VARCHAR) AS flv, q FROM "
                    f"(SELECT * FROM {t}) s ORDER BY s.fl, s.k LIMIT {lim}")
    return {"name": name, "psql": "\n;;\n".join(spark), "duck_script": duck}

def fts_script(name):
    """FTS lifecycle family (r16): build a persisted index over a derived
    text table, MUTATE the base table, rebuild with overwrite := 1, then
    probe match_bm25 with random k/b/conjunctive — the probe must reflect
    the POST-mutation state. DuckDB computes the identical whitespace-exact
    BM25 in plain SQL over the same final table (the binary fts extension
    cannot load offline; default-normalization conformance is pinned by
    the r09/r10 gate rows + the published stemmer vectors in StemmersSpec,
    so this family runs the exact-token option set both engines share)."""
    t = f"fz_{name}"
    p = rnd.choice([2, 3, 5])
    exact = ("stemmer := 'none', stopwords := 'none', ignore := '', "
             "lower := 0, strip_accents := 0")
    seed_sel = f"select doc_id, text from documents where doc_id % {p} > 0"
    spark = [f"create or replace table {t} as {seed_sel}",
             f"PRAGMA create_fts_index('{t}', 'doc_id', 'text', {exact})"]
    duck = [f"CREATE OR REPLACE TEMP TABLE {t} AS {seed_sel}"]
    m = rnd.randrange(2, 6)
    mut = rnd.randrange(3)
    if mut == 0:
        stmt = f"delete from {t} where doc_id % {m} = 1"
    elif mut == 1:
        stmt = (f"insert into {t} select doc_id + 1000000, text "
                f"from {t} where doc_id % {m} = 0")
    else:
        stmt = f"update {t} set text = text || ' graftfuzz' where doc_id % {m} = 0"
    spark.append(stmt)
    duck.append(stmt)
    spark.append(f"PRAGMA create_fts_index('{t}', 'doc_id', 'text', {exact}, "
                 "overwrite := 1)")
    terms = rnd.sample(["merge", "window", "scan", "join", "filter",
                        "graftfuzz", "shuffle"], rnd.randrange(1, 4))
    k1 = rnd.choice([1.2, 0.9, 2.0])
    b = rnd.choice([0.75, 0.4])
    conj = len(terms) > 1 and rnd.randrange(4) == 0
    args = f", k := {k1!r}, b := {b!r}" + (", conjunctive := 1" if conj else "")
    qstr = " ".join(terms)
    lim = rnd.choice([20, 50])
    spark.append(
        f"from {t} |> select doc_id, "
        f"fts_main_{t}.match_bm25(doc_id, '{qstr}'{args}) as score "
        f"|> where score is not null |> order by score desc, doc_id "
        f"|> limit {lim}")
    in_list = ", ".join(f"'{w}'" for w in terms)
    conj_having = f"HAVING count(*) = {len(terms)}" if conj else ""
    # identical IEEE literals on both sides: repr() of the python floats is
    # exactly what the Scala side computes from the k/b argument text
    duck.append(f"""WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS w
  FROM {t}),
dl AS (SELECT doc_id, len(w)::BIGINT AS dl FROM tok),
posting AS (
  SELECT doc_id, u.t AS term, count(*)::BIGINT AS tf
  FROM tok, unnest(w) AS u(t) WHERE u.t IN ({in_list})
  GROUP BY doc_id, u.t),
stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dl),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM posting GROUP BY term),
scored AS (
  SELECT p.doc_id,
    sum(floor(round(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)), 6)
      * (p.tf * {k1 + 1.0!r} / (p.tf + {k1!r} * ({1.0 - b!r} + {b!r} * l.dl / (s.sum_dl::DOUBLE / s.n_docs))))
      * 1000000.0 + 0.5)::BIGINT)::BIGINT AS s6
  FROM posting p JOIN dl l USING (doc_id) CROSS JOIN stats s
  JOIN dfreq d ON d.term = p.term
  GROUP BY p.doc_id {conj_having})
SELECT doc_id, s6::DOUBLE / 1000000.0 AS score
FROM (SELECT * FROM scored ORDER BY s6 DESC, doc_id LIMIT {lim})
ORDER BY score DESC, doc_id""")
    return {"name": name, "psql": "\n;;\n".join(spark), "duck_script": duck}


def recursive_script(name):
    """WITH RECURSIVE family (r16): identical statement text in BOTH
    engines (the q108 pattern — Spark 4 and DuckDB 1.0 share the grammar):
    numeric series accumulation, a bounded hierarchy walk over a derived
    edge table, and a bounded collatz-style orbit."""
    t = f"fz_{name}"
    v = rnd.randrange(3)
    if v == 0:
        k = rnd.randrange(5, 40)
        a = rnd.randrange(1, 4)
        q = (f"with recursive r(n, s) as (select 1 as n, cast({a} as bigint) as s "
             f"union all select n + 1, s + n * {a} from r where n < {k}) "
             f"select n, s from r order by n")
        return {"name": name, "psql": q, "duck_script": [q]}
    if v == 1:
        d = rnd.choice([2, 3])
        cap = rnd.randrange(500, 1500)
        edges = (f"select o_orderkey as child, "
                 f"cast(floor(o_orderkey / {d}) as bigint) as parent "
                 f"from orders where o_orderkey % 5 = 0 and o_orderkey <= {cap}")
        spark = [f"create or replace table {t}_e as {edges}"]
        duck = [f"CREATE OR REPLACE TEMP TABLE {t}_e AS {edges}"]
        q = (f"with recursive up(node, root, depth) as ("
             f"select child, child, 0 from {t}_e "
             f"union all select u.node, e.parent, u.depth + 1 "
             f"from up u join {t}_e e on e.child = u.root where u.depth < 10) "
             f"select node, max(depth) as d, min(root) as r from up "
             f"group by node order by node")
        spark.append(q)
        duck.append(q)
        return {"name": name, "psql": "\n;;\n".join(spark), "duck_script": duck}
    start = rnd.randrange(7, 28)
    # the step stays TYPE-STABLE (explicit cast): DuckDB casts recursive
    # steps to the anchor's types, Spark requires exact types across the
    # recursion (documented divergence, pinned in PsqlEndToEndSpec) —
    # x / 2 is DOUBLE in both engines, exact for even x, so the cast agrees
    q = (f"with recursive c(i, x) as (select 0 as i, cast({start} as bigint) as x "
         f"union all select i + 1, "
         f"case when x % 2 = 0 then cast(x / 2 as bigint) else 3 * x + 1 end "
         f"from c where x > 1 and i < 40) "
         f"select i, x from c order by i")
    return {"name": name, "psql": q, "duck_script": [q]}


def plaindialect_script(name):
    """Plain-statement dialect family (r17): NON-pipe statements carrying
    DuckDB-only expression forms — 1-based subscripts/slices, `//` and `^`
    (power), zero-arg count(), SIMILAR TO, struct literals + dot access,
    list comprehensions, DISTINCT ON, QUALIFY, star EXCLUDE/REPLACE,
    GROUP BY ALL — with IDENTICAL text in BOTH engines: graft routes
    query-headed plain statements through the pipe-stage shims
    (Psql.rewriteOnly / PsqlRewriter.plainSelectRewrite); DuckDB executes
    the text natively. (l_orderkey, l_linenumber) is unique, so every
    pick/tiebreak below is fully deterministic. r17b adds AT TIME ZONE
    conversion chains (every output ends NAIVE — a TIMESTAMPTZ cell would
    canon with its offset) and the ASOF/POSITIONAL statement spellings
    (before r17 those silently cross-/theta-joined)."""
    v = rnd.randrange(8)
    if v == 5:
        tzs = ["America/New_York", "Europe/Berlin", "Asia/Kolkata",
               "Australia/Sydney", "Asia/Tokyo"]
        tz1, tz2 = rnd.sample(tzs, 2)
        p = rnd.randrange(50, 400)
        q = (f"SELECT event_id, ts AT TIME ZONE 'UTC' AT TIME ZONE '{tz1}' AS w1, "
             f"timezone('{tz2}', timezone('UTC', ts)) AS w2 "
             f"FROM events WHERE event_id % {p} = 0 ORDER BY event_id LIMIT 150")
        return {"name": name, "psql": q, "duck_script": [q]}
    if v == 6:
        # POSITIONAL statement form: both sides built as ordered tables
        # (TakeOrderedAndProject writes a single in-order file; DuckDB temp
        # tables preserve insertion order) — the zip is then deterministic
        t = f"fz_{name}"
        n = rnd.randrange(20, 80)
        lsel = (f"select l_orderkey as k, l_linenumber as ln from lineitem "
                f"order by l_orderkey, l_linenumber limit {n}")
        rsel = f"select o_orderkey from orders order by o_orderkey desc limit {n}"
        stmt = f"SELECT k, ln, o_orderkey FROM {t}_l POSITIONAL JOIN {t}_r"
        return {"name": name,
                "psql": "\n;;\n".join([f"create or replace table {t}_l as {lsel}",
                                       f"create or replace table {t}_r as {rsel}", stmt]),
                "duck_script": [f"CREATE OR REPLACE TEMP TABLE {t}_l AS {lsel}",
                                f"CREATE OR REPLACE TEMP TABLE {t}_r AS {rsel}", stmt]}
    if v == 7:
        # ASOF statement form (the a24 shape): unique (key, time) right side
        t = f"fz_{name}"
        p = rnd.randrange(2, 6)
        op = rnd.choice([">=", ">"])
        rsel = ("select user_id, ts as pts, max(value) as pv from events "
                "where event_type = 'purchase' group by user_id, ts")
        stmt = (f"SELECT event_id, pv FROM events ASOF JOIN {t}_r "
                f"ON events.user_id = {t}_r.user_id AND events.ts {op} {t}_r.pts "
                f"WHERE event_id % {p} = 0 ORDER BY event_id")
        return {"name": name,
                "psql": "\n;;\n".join([f"create or replace table {t}_r as {rsel}", stmt]),
                "duck_script": [f"CREATE OR REPLACE TEMP TABLE {t}_r AS {rsel}", stmt]}
    if v == 0:
        # expression battery
        k = rnd.choice([1, 2, -1])
        d = rnd.randrange(2, 9)
        m = rnd.randrange(2, 5)
        p = rnd.randrange(2, 7)
        q = ("SELECT l_orderkey, l_linenumber, "
             f"(string_split(l_returnflag || '-' || l_linestatus, '-'))[{k}] AS part, "
             f"l_orderkey // {d} AS q1, "
             "cast(l_linenumber ^ 2 as bigint) AS p2, "
             f"('LN' || l_linenumber)[1:{m}] AS sl, "
             "{'a': l_orderkey % 7, 'b': l_linenumber}.a AS fa, "
             "([x * 2 for x in [l_linenumber, 2, 3] if x > 1])[1] AS lc "
             "FROM lineitem "
             f"WHERE l_returnflag SIMILAR TO '[ANR]' AND l_orderkey % {p} = 0 "
             "ORDER BY ALL LIMIT 40")
    elif v == 1:
        # DISTINCT ON with a deterministic full-tiebreak pick order
        on = rnd.choice(["l_returnflag", "l_returnflag, l_linestatus"])
        g = rnd.randrange(5, 45)
        n = rnd.randrange(3, 12)
        mid = rnd.choice(["l_quantity DESC, ", "l_quantity, ", ""])
        q = (f"SELECT DISTINCT ON ({on}) {on}, l_orderkey, l_linenumber, l_quantity "
             f"FROM lineitem WHERE l_quantity > {g} "
             f"ORDER BY {on}, {mid}l_orderkey, l_linenumber LIMIT {n}")
    elif v == 2:
        # QUALIFY: plain window filter, or over a GROUP BY ALL aggregate
        k = rnd.randrange(1, 5)
        if rnd.randrange(2) == 0:
            p = rnd.randrange(2, 7)
            q = ("SELECT l_returnflag, l_orderkey, l_linenumber, "
                 "row_number() OVER (PARTITION BY l_returnflag "
                 "ORDER BY l_orderkey, l_linenumber) AS rn "
                 f"FROM lineitem WHERE l_orderkey % {p} = 0 "
                 f"QUALIFY rn <= {k} ORDER BY l_returnflag, rn")
        else:
            # explicit keys: DuckDB 1.0 rejects QUALIFY + GROUP BY ALL
            # ("not supported yet")
            q = ("SELECT l_returnflag, l_linestatus, count() AS c "
                 "FROM lineitem GROUP BY l_returnflag, l_linestatus "
                 "QUALIFY row_number() OVER (ORDER BY count(*) DESC, "
                 f"l_returnflag, l_linestatus) <= {k} ORDER BY ALL")
    elif v == 3:
        # GROUP BY ALL + decimal-exact aggregates + //
        d = rnd.randrange(2, 9)
        ds = rnd.choice(DATES)
        q = ("SELECT l_returnflag, l_linestatus, count() AS c, "
             "cast(sum(cast(l_quantity as decimal(18,2))) as double) AS s, "
             f"min(l_orderkey) // {d} AS mk "
             f"FROM lineitem WHERE l_shipdate >= date '{ds}' "
             "GROUP BY ALL ORDER BY ALL")
    else:
        # star EXCLUDE / star REPLACE over a derived table
        p = rnd.randrange(2, 7)
        inner = ("SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity "
                 f"FROM lineitem WHERE l_orderkey % {p} = 0")
        if rnd.randrange(2) == 0:
            q = (f"SELECT * REPLACE (lower(l_returnflag) AS l_returnflag) "
                 f"FROM ({inner}) ORDER BY ALL LIMIT 30")
        else:
            q = f"SELECT * EXCLUDE (l_quantity) FROM ({inner}) ORDER BY ALL LIMIT 30"
    return {"name": name, "psql": q, "duck_script": [q]}


def main():
    stmt_mode = os.environ.get("FUZZ_STMT", "") == "1"
    queries = []
    for i in range(N):
        # statement-mode runs are all scripts; normal runs mix 1-in-5 in
        if stmt_mode or rnd.random() < 0.20:
            queries.append(dml_script(f"f{i:03d}"))
            continue
        q = pipeline()
        if isinstance(q, tuple):  # (graft_text, duckdb_text) family
            queries.append({"name": f"f{i:03d}", "psql": q[0], "duck_psql": q[1]})
        else:
            queries.append({"name": f"f{i:03d}", "psql": q})
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    # clear stale artifacts from a reused workDir: a leftover .error from a
    # previous run would otherwise be reported against THIS run's query text
    for f in os.listdir(os.path.join(WORK, "out")):
        p = os.path.join(WORK, "out", f)
        if f.endswith(".error"):
            os.remove(p)
    with open(os.path.join(WORK, "queries.json"), "w") as f:
        json.dump(queries, f)
    # build and run the checkout this script lives in
    subprocess.run(["sbt", "-batch", f"runMain graft.FuzzRun {SF} {WORK}"],
                   cwd=os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."),
                   check=True, capture_output=True)

    con = duckdb.connect()
    for t in ["lineitem", "orders", "events", "documents"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    # auxiliary views mirroring graft.FuzzRun's Spark-side temp views (the
    # asof/positional right sides); definitions must stay in lockstep
    con.execute("CREATE VIEW purchases_f AS SELECT user_id, ts AS pts, "
                "max(value) AS purchase_value FROM events "
                "WHERE event_type = 'purchase' GROUP BY user_id, ts")
    con.execute("CREATE VIEW pos_r AS SELECT o_orderkey FROM orders "
                "ORDER BY o_orderkey DESC LIMIT 100")
    fails = 0
    for q in queries:
        name = q["name"]
        ref_sql = None if "duck_script" in q else \
            reference_rewrite(q.get("duck_psql") or q["psql"])
        err = os.path.join(WORK, "out", name + ".error")
        if os.path.exists(err):
            print(f"ERR  {name}: spark-side: {open(err).read()[:100]}")
            print(f"     psql: {q['psql']}")
            fails += 1
            continue
        out_path = os.path.join(WORK, "out", name + ".parquet")
        if not os.path.isdir(out_path):
            print(f"ERR  {name}: no spark output (and no .error file)")
            print(f"     psql: {q['psql']}")
            fails += 1
            continue
        try:
            if "duck_script" in q:
                for s in q["duck_script"][:-1]:
                    if s.startswith("--expect-error"):
                        # FK-enforcement family: DuckDB must ALSO reject
                        body = s[len("--expect-error"):].strip()
                        ok = False
                        try:
                            con.execute(body)
                        except Exception:
                            ok = True
                        if not ok:
                            raise RuntimeError(
                                "oracle: expected error but statement "
                                "succeeded: " + body[:120])
                    else:
                        con.execute(s)
                cur = con.execute(q["duck_script"][-1])
            else:
                cur = con.execute(ref_sql)
        except Exception as e:
            print(f"ORACLE_ERR {name}: {str(e)[:120]}")
            print(f"     psql: {q['psql']}")
            print(f"     ref:  {str(ref_sql)[:200]}")
            fails += 1
            continue
        cols = [d[0] for d in cur.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        want = sorted("|".join(canon(r[i]) for i in order) for r in cur.fetchall())
        gcur = con.execute(
            f"SELECT * FROM '{os.path.join(WORK, 'out', name + '.parquet')}/*.parquet'")
        gcols = [d[0] for d in gcur.description]
        gorder = sorted(range(len(gcols)), key=lambda i: gcols[i])
        got = sorted("|".join(canon(r[i]) for i in gorder) for r in gcur.fetchall())
        if sorted(map(str.lower, cols)) != sorted(map(str.lower, gcols)):
            print(f"COLS {name}: {sorted(cols)} vs {sorted(gcols)}")
            print(f"     psql: {q['psql']}")
            fails += 1
        elif want != got:
            print(f"DIFF {name}: {len(want)} vs {len(got)} rows")
            print(f"     psql: {q['psql']}")
            fails += 1
    print(f"{N - fails}/{N} fuzz queries match (seed={SEED})")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
