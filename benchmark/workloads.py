"""Workload definitions: scale factors, the gql_read request deck with its
DuckDB twins, and the per-layer metric list."""
import os
import random

import pyarrow.parquet as pq

WORKLOADS = {
    # scale factor of the generated tables each workload reads
    "gql_read": {"sf": 0.1},
    "cdc_live": {"sf": 0.1},  # reads no table in its timed phase
    "registry_sweep": {"sf": 0.001},
}

# Per-layer metrics: (name, unit, kind). A "timer" or "counter" reports the
# median over ops that touched the layer and the sum; a "gauge" reports the
# median and the maximum.
LAYERS = [
    ("api.GraphQl.parse_ms", "ms", "timer"),
    ("api.Permissions.secure_ms", "ms", "timer"),
    ("api.QueryBuilder.compile_ms", "ms", "timer"),
    ("spark.plan_ms", "ms", "timer"),
    ("spark.exec_ms", "ms", "timer"),
    ("spark.input_bytes", "bytes", "counter"),
    ("spark.rows_out", "count", "counter"),
    ("spark.jobs", "count", "counter"),
    ("spark.stages", "count", "counter"),
    ("spark.tasks", "count", "counter"),
    ("spark.sched_delay_ms", "ms", "timer"),
    ("spark.driver_gap_ms", "ms", "timer"),
    ("spark.task_run_ms", "ms", "timer"),
    ("spark.task_cpu_ms", "ms", "timer"),
    ("spark.gc_ms", "ms", "timer"),
    ("spark.shuffle_read_bytes", "bytes", "counter"),
    ("spark.shuffle_write_bytes", "bytes", "counter"),
    ("spark.spill_bytes", "bytes", "counter"),
    ("registry.build_ms", "ms", "timer"),
    ("cache.persisted_rdds", "count", "gauge"),
    ("stream.trigger_ms", "ms", "timer"),
    ("stream.addBatch_ms", "ms", "timer"),
    ("stream.planning_ms", "ms", "timer"),
    ("stream.walCommit_ms", "ms", "timer"),
    ("state.rows_total", "count", "gauge"),
    ("state.rows_updated", "count", "counter"),
    ("state.mem_bytes", "bytes", "gauge"),
    ("api.Subscriptions.eval_ms", "ms", "timer"),
    ("api.Subscriptions.rows_pushed", "count", "counter"),
]

# gql_read mix per block of 20 requests: (template, role) -> count. The
# weights are chosen, not measured (NOTES.md gives the reason for each). One
# request in five is served as the `analyst` role of Permissions.q140Policy;
# the two-level items template reads lineitem, which that role is not
# granted, so it is served as admin only.
BLOCK = [
    ("orders_by_pk", "admin", 5), ("orders_by_pk", "analyst", 1),
    ("orders_list", "admin", 4), ("orders_list", "analyst", 1),
    ("customer_orders", "admin", 2), ("customer_orders", "analyst", 1),
    ("customer_orders_items", "admin", 3),
    ("orders_aggregate", "admin", 2), ("orders_aggregate", "analyst", 1),
]
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DECK_BLOCKS = 40  # 800 requests; a run serves far fewer
WARMUP_ROUNDS = 10  # set-up serves every (template, role) pair this often


def _and(*preds):
    return "{_and: [" + ", ".join(preds) + "]}"


def request(template, role, rng, n_cust, n_orders):
    """GraphQL document and its DuckDB twin for one seeded request.

    Relationships attach with `@join(type: "left")`, Hasura's semantics: a
    parent without matching children is kept with an empty array (the
    engine's default attach is inner, which drops it).

    Range filters are spelled with `_and` because GraphQl.parse accepts one
    comparison operator per column object (see NOTES.md)."""
    analyst = role == "analyst"
    if template == "orders_by_pk":
        k = rng.randrange(n_orders)
        doc = (f"{{ orders_by_pk(o_orderkey: {k}) {{ o_orderkey o_custkey "
               f"o_orderstatus o_totalprice o_orderdate }} }}")
        sql = (f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
               f"o_orderdate FROM orders WHERE o_orderkey = {k}"
               + (" AND o_orderstatus = 'O'" if analyst else ""))
    elif template == "orders_list":
        a = rng.randrange(max(1, n_cust - 300))
        st = rng.choice(STATUSES)
        where = _and(f"{{o_custkey: {{_gte: {a}}}}}",
                     f"{{o_custkey: {{_lte: {a + 300}}}}}",
                     f'{{o_orderstatus: {{_eq: "{st}"}}}}')
        doc = (f"{{ orders(where: {where}, order_by: [{{o_totalprice: desc}},"
               f" {{o_orderkey: asc}}], limit: 25) {{ o_orderkey o_custkey "
               f"o_totalprice o_orderdate }} }}")
        sql = (f"SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate "
               f"FROM orders WHERE o_custkey BETWEEN {a} AND {a + 300} "
               f"AND o_orderstatus = '{st}'"
               + (" AND o_orderstatus = 'O'" if analyst else "")
               + " ORDER BY o_totalprice DESC, o_orderkey LIMIT 25")
    elif template == "customer_orders":
        # the q100 shape: each customer's top-3 orders of one status
        a = rng.randrange(max(1, n_cust - 20))
        st = rng.choice(STATUSES)
        where = _and(f"{{c_custkey: {{_gte: {a}}}}}",
                     f"{{c_custkey: {{_lte: {a + 19}}}}}")
        doc = (f"{{ customer(where: {where}, order_by: {{c_custkey: asc}}) {{ "
               f"c_custkey c_name orders(where: {{o_orderstatus: "
               f'{{_eq: "{st}"}}}}, order_by: [{{o_totalprice: desc}}, '
               f'{{o_orderkey: asc}}], limit: 3) @join(type: "left") '
               f"{{ k: o_orderkey "
               f'p: o_totalprice @fmt(round: 2, printf: "%.2f") }} }} }}')
        ofilt = f"o_orderstatus = '{st}'" + (
            " AND o_orderstatus = 'O'" if analyst else "")
        cfilt = f"c.c_custkey BETWEEN {a} AND {a + 19}" + (
            " AND c.c_mktsegment = 'BUILDING'" if analyst else "")
        sql = (
            "SELECT c.c_custkey, c.c_name, "
            "to_json(COALESCE(list({'k': x.o_orderkey, "
            "'p': printf('%.2f', ROUND(x.o_totalprice, 2))} "
            "ORDER BY x.o_totalprice DESC, x.o_orderkey) "
            "FILTER (WHERE x.o_orderkey IS NOT NULL), [])) AS orders "
            "FROM customer c LEFT JOIN (SELECT o_custkey, o_orderkey, "
            "o_totalprice, row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders "
            f"WHERE {ofilt}) x ON x.o_custkey = c.c_custkey AND x.rn <= 3 "
            f"WHERE {cfilt} GROUP BY c.c_custkey, c.c_name "
            "ORDER BY c.c_custkey")
    elif template == "customer_orders_items":
        # the q97 shape: two levels of nesting
        a = rng.randrange(max(1, n_cust - 5))
        where = _and(f"{{c_custkey: {{_gte: {a}}}}}",
                     f"{{c_custkey: {{_lte: {a + 4}}}}}")
        doc = (f"{{ customer(where: {where}, order_by: {{c_custkey: asc}}) {{ "
               f"c_custkey orders(order_by: {{o_orderkey: asc}}, limit: 4) "
               f'@join(type: "left") {{ k: o_orderkey items(order_by: '
               f"[{{l_linenumber: asc}}, {{l_extendedprice: asc}}]) "
               f'@join(type: "left") {{ ln: l_linenumber '
               f"q: l_quantity }} }} }} }}")
        sql = (
            "WITH o AS (SELECT o_custkey, o_orderkey, row_number() OVER "
            "(PARTITION BY o_custkey ORDER BY o_orderkey) AS rn FROM orders "
            f"WHERE o_custkey BETWEEN {a} AND {a + 4}), "
            "li AS (SELECT o.o_custkey, o.o_orderkey, "
            "COALESCE(list({'ln': l.l_linenumber, 'q': l.l_quantity} "
            "ORDER BY l.l_linenumber, l.l_extendedprice) "
            "FILTER (WHERE l.l_orderkey IS NOT NULL), []) AS items "
            "FROM o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            "WHERE o.rn <= 4 GROUP BY o.o_custkey, o.o_orderkey) "
            "SELECT c.c_custkey, to_json(COALESCE(list({'k': li.o_orderkey, "
            "'items': li.items} ORDER BY li.o_orderkey) "
            "FILTER (WHERE li.o_orderkey IS NOT NULL), [])) AS orders "
            "FROM customer c LEFT JOIN li ON li.o_custkey = c.c_custkey "
            f"WHERE c.c_custkey BETWEEN {a} AND {a + 4} "
            "GROUP BY c.c_custkey ORDER BY c.c_custkey")
    elif template == "orders_aggregate":
        a = rng.randrange(max(1, n_cust - 1500))
        pr = rng.choice(PRIORITIES)
        where = _and(f"{{o_custkey: {{_gte: {a}}}}}",
                     f"{{o_custkey: {{_lt: {a + 1500}}}}}",
                     f'{{o_orderpriority: {{_eq: "{pr}"}}}}')
        doc = (f"{{ orders_aggregate(where: {where}) {{ aggregate {{ count "
               f"sum {{ o_totalprice }} min {{ o_totalprice }} "
               f"max {{ o_totalprice }} avg {{ o_totalprice }} }} }} }}")
        sql = ("SELECT COUNT(*) AS count, SUM(o_totalprice) AS "
               "sum_o_totalprice, MIN(o_totalprice) AS min_o_totalprice, "
               "MAX(o_totalprice) AS max_o_totalprice, AVG(o_totalprice) AS "
               f"avg_o_totalprice FROM orders WHERE o_custkey >= {a} AND "
               f"o_custkey < {a + 1500} AND o_orderpriority = '{pr}'"
               + (" AND o_orderstatus = 'O'" if analyst else ""))
    else:
        raise ValueError(template)
    return doc, sql


def gql_deck(seed, data):
    """The seeded request deck: WARMUP_ROUNDS requests per (template, role)
    pair served during set-up, then DECK_BLOCKS blocks the clients take in
    order.
    Each block of 20 holds the BLOCK mix exactly, shuffled."""
    rows = lambda t: pq.read_metadata(os.path.join(data, f"{t}.parquet")).num_rows
    n_cust, n_orders = rows("customer"), rows("orders")
    rng = random.Random(seed)
    warm_rng = random.Random(~seed)
    deck = []

    def add(t, role, r, warm):
        doc, sql = request(t, role, r, n_cust, n_orders)
        deck.append({"id": len(deck), "template": t, "role": role,
                     "doc": doc, "sql": sql, "warmup": warm})
    for _ in range(WARMUP_ROUNDS):
        for t, role, _ in BLOCK:
            add(t, role, warm_rng, True)
    for _ in range(DECK_BLOCKS):
        block = [(t, role) for t, role, n in BLOCK for _ in range(n)]
        rng.shuffle(block)
        for t, role in block:
            add(t, role, rng, False)
    return deck
