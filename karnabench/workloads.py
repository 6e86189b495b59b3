"""Seeded operation streams. Only these generated operations reach the
program; the seed changes the literals, the pooled variants and the table a write
registers; which template and fixture directory each position of a
client's stream gets is fixed, so the mix is the same for every seed."""
import random

# SQL read templates. The same text runs in Spark and in DuckDB, whose
# answer is the check. Money sums go through DECIMAL as in the program's
# own oracles, so both engines round identically.
SQL = {
    "sql_pricing": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n_lines, "
        "CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_qty, "
        "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_price "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '{day} 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    # more than 1000 rows on the two larger directories: the response
    # carries the full 1000-row cap
    "sql_orders_cap": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
        "WHERE o_totalprice > {price} ORDER BY o_orderkey"),
    "sql_nation_revenue": (
        "SELECT n_name, count(*) AS n_orders, "
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE o_orderdate >= TIMESTAMP '{day} 00:00:00' AND o_orderstatus = '{status}' "
        "GROUP BY n_name ORDER BY n_name"),
    "sql_customer_range": (
        "SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer "
        "WHERE c_custkey BETWEEN {key} AND {key} + 25 ORDER BY c_custkey"),
    "sql_brand_qty": (
        "SELECT p_brand, count(*) AS n_lines, "
        "CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS qty "
        "FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_size <= {size} "
        "GROUP BY p_brand ORDER BY p_brand"),
}

# GraphQL and NL reads come from finite pools, so every variant's answer
# can be recorded with the benchmark (expected/answers.json).
GRAPHQL = {
    "gql_orders": [
        '{ orders(filter: {o_totalprice: {gt: %d}}, orderBy: ["o_orderkey"], limit: 50) '
        '{ o_orderkey o_totalprice customer { c_name } } }' % p
        for p in range(20000, 320000, 30000)],
    "gql_agg": [
        '{ orders_agg(groupBy: ["%s"], orderBy: ["%s"]) { %s count sum_o_totalprice } }'
        % (g, g.replace(".", "_"), g.replace(".", "_"))
        for g in ["o_orderstatus", "o_orderpriority", "customer.c_mktsegment"]],
    # limit above the 1000-row response cap
    "gql_lines_cap": [
        '{ lineitem(filter: {l_quantity: {gte: %d}}, '
        'orderBy: ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"], limit: 1200) '
        '{ l_orderkey l_linenumber l_quantity } }' % q
        for q in range(1, 11)],
}

NL = {
    "nl_orders_by_priority": [
        f"count of orders by priority where status is {s}" for s in "FOP"],
    "nl_qty_by_nation": [
        f"total quantity by supplier nation where status is {s}" for s in "FO"],
    "nl_top_supplier": [
        f"which supplier had the highest total quantity in {y}"
        for y in range(1995, 2001)],
    "nl_nation_rows": [
        f"how many rows in nation where n_regionkey is {k}" for k in range(5)],
}

# tables a dataset write registers under a fresh name
REGISTRABLE = ["nation", "region", "supplier", "part"]


def sql_literals(rng):
    day = f"{rng.randint(1995, 2000)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    return {"day": day, "price": rng.randint(1000, 60000),
            "status": rng.choice("FOP"), "key": rng.randint(0, 120),
            "size": rng.randint(5, 50)}


def all_pool_reads():
    """Every GraphQL and NL read the streams can contain."""
    for pools, dialect in ((GRAPHQL, "graphql"), (NL, "nl")):
        for tpl, variants in pools.items():
            for q in variants:
                yield tpl, dialect, q


# One cycle of the stream: every read template once, at a fixed
# directory, and a dataset write pair with the reads that check it.
# Cycles are identical but for literals, and the harness stops only
# between cycles, so every run measures the same mix. The mix itself (one
# of each template, so 6 SQL, 4 NL and 3 GraphQL reads with the checking
# read) is an assumption, not taken from any traffic record; the gated
# latency is a geometric mean over templates so that it does not depend
# on these weights.
CYCLE = [
    ("read", "sql", "sql_pricing", "sf0.01x10"),
    ("read", "graphql", "gql_orders", "sf0.01"),
    ("read", "nl", "nl_orders_by_priority", "sf0.001"),
    ("read", "sql", "sql_orders_cap", "sf0.01x10"),
    ("register", None, None, "sf0.01"),
    ("read", "graphql", "gql_lines_cap", "sf0.01x10"),
    ("read", "nl", "nl_qty_by_nation", "sf0.01"),
    ("read", "sql", "sql_nation_revenue", "sf0.01"),
    ("read", "nl", "nl_top_supplier", "sf0.01x10"),
    ("read", "sql", "sql_customer_range", "sf0.001"),
    ("unregister", None, None, "sf0.01"),
    ("read", "graphql", "gql_agg", "sf0.001"),
    ("read", "nl", "nl_nation_rows", "sf0.001"),
    ("read", "sql", "sql_brand_qty", "sf0.01"),
]


# each write is followed by the read that checks it
CYCLE_OPS = len(CYCLE) + sum(1 for kind, *_ in CYCLE if kind != "read")


def serve_stream(seed, dirs, n_cycles=8):
    """The closed-loop client's operations, `n_cycles` cycles of CYCLE.
    Every write is followed by a read that must see it: a registered name
    answers with its table's row count, and an unregistered one is refused
    as an unknown table.

    `dirs` maps a directory label to its path; each op records both, the
    label being what recorded answers are keyed by.
    """
    rng = random.Random(seed)
    tag = f"{seed & 0xffffff:x}"
    ops = []

    def add(op):
        op["id"] = f"op-{len(ops)}"
        ops.append(op)

    def read(dialect, tpl, query, label, expect="rows", **extra):
        add({"kind": "read", "dialect": dialect, "tpl": tpl, "query": query,
             "dir_label": label, "dir": dirs[label], "expect": expect, **extra})

    for c in range(n_cycles):
        ds = f"bench_{tag}_{c}"
        table = rng.choice(REGISTRABLE)
        count_q = f"SELECT count(*) AS n FROM {ds}"
        for kind, dialect, tpl, label in CYCLE:
            path = f"{dirs[label]}/{table}.parquet"
            if kind == "register":
                add({"kind": kind, "name": ds, "path": path})
                read("sql", "sql_registered", count_q, label, expect="visible", path=path)
            elif kind == "unregister":
                add({"kind": kind, "name": ds})
                read("sql", "sql_unregistered", count_q, label, expect="unknown")
            elif dialect == "sql":
                read(dialect, tpl, SQL[tpl].format(**sql_literals(rng)), label)
            else:
                pool = GRAPHQL if dialect == "graphql" else NL
                read(dialect, tpl, rng.choice(pool[tpl]), label)
    return ops


def warm_ops(dirs):
    """Untimed reads before the timed window: one per dialect, each on a
    different directory."""
    labels = sorted(dirs)
    query = SQL["sql_pricing"].format(**sql_literals(random.Random(0)))
    reads = [("sql", query), ("graphql", GRAPHQL["gql_agg"][0]),
             ("nl", NL["nl_orders_by_priority"][0])]
    return [{"id": f"warm-{i}", "kind": "read", "dialect": dialect, "query": q,
             "dir": dirs[labels[i % len(labels)]]}
            for i, (dialect, q) in enumerate(reads)]


# The batch key set: heavy on construction (graph_bfs), heavy on
# execution (dedup_ngram, sim_ivf_pq), projections a count() would prune
# (text_normalize, fn_json, udf_scalar), consumers of derived artifacts
# (graph_bfs, sim_ivf_pq, sim_cosine_topk, text_perplexity), the dialect
# keys (nl_qualified_pair, gql_agg) and a relational aggregate
# (q_waiting_suppliers).
BATCH_KEYS = [
    "gql_agg", "text_normalize", "fn_json", "udf_scalar", "q_waiting_suppliers",
    "nl_qualified_pair", "sim_cosine_topk", "text_perplexity", "graph_bfs",
    "dedup_ngram", "sim_ivf_pq",
]

# run untimed on the smallest fixture first: takes the session's one-off
# start-up cost (parquet reader, code generator, first job), so the pass
# starts on a live engine while each key's plans are still new to it
BATCH_WARM_KEYS = ["gql_agg"]

# derived artifacts the key set reads, in build order
BATCH_DERIVED = ["valid_emb", "trade_edges", "ppl_scores"]
