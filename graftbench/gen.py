"""Seeded input generators for the benchmark (DuckDB, deterministic).

Every random draw is a hash of (row index, column salt, seed), so the same
seed yields byte-identical inputs on any machine with the same DuckDB.

* ``make_tables``: the engine's ten source tables (TPC-H-like star schema,
  an ``events`` stream, ``documents`` with near-duplicate clusters and
  ``embeddings``), one single-row-group parquet file each, with the schemas,
  physical types and value domains of the engine's reference test data.
* ``make_landing``: daily landing batches for the ELT pipeline in the
  reference's CSV layout (``orders.csv`` with the ``total_price`` header,
  ``shipment_deliveries.csv``, ``reviews.csv``), plus what the pipeline
  must stage and compute from them.
"""
import json
import os

import duckdb

# Row counts at scale 1.0 (the reference test data's sf0.1 sizes).
BASE_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000,
}

VOCAB = ["a", "agg", "batch", "big", "column", "data", "fast", "filter", "group",
         "hash", "index", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "value",
         "vector", "window", "shard", "cache"]

# Share of landed shipments with a null shipment_date / delivery_date, the
# reference data's densities.
NULL_SHIP = 0.68
NULL_DELIVERY = 0.78
N_PRODUCTS = 30          # review product ids; the product dim holds 1..25
TAIL_SHARE = 0.1         # share of a batch's keys re-delivered by the next


def _connect(seed):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    # u(i, salt): uniform in [0, 1), a pure function of (i, salt, seed)
    con.execute(f"CREATE MACRO u(i, salt) AS "
                f"(hash(i, salt, {int(seed)}) % 1000003)::DOUBLE / 1000003.0")
    con.execute(f"CREATE MACRO pick(i, salt, n) AS floor(u(i, salt) * n)::BIGINT")
    return con


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 100000000)")


def rows_at(scale, text_scale):
    return {t: max(1, int(n * (text_scale if t in ("documents", "embeddings") else scale)))
            for t, n in BASE_ROWS.items()}


def make_tables(out_dir, seed, scale, text_scale):
    """Write the ten source tables under ``out_dir``; return their row counts.
    ``scale`` sizes the relational tables and events, ``text_scale`` the
    documents and embeddings (1.0 = the reference data's sf0.1).
    """
    os.makedirs(out_dir, exist_ok=True)
    con = _connect(seed)
    n = rows_at(scale, text_scale)
    C, S, P, O, L = n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    users = max(10, n["events"] // 66)
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")
    _copy(con, """SELECT i::INTEGER AS r_regionkey, name AS r_name FROM (VALUES
        (0,'AFRICA'),(1,'AMERICA'),(2,'ASIA'),(3,'EUROPE'),(4,'MIDDLE EAST')) t(i, name)""",
          p("region"))
    _copy(con, """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
        (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""", p("nation"))
    _copy(con, f"""SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
        pick(i, 1, 25)::INTEGER AS c_nationkey, round(-999.99 + u(i, 2) * 10999.8, 2) AS c_acctbal,
        (['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'])[pick(i, 3, 5) + 1] AS c_mktsegment
        FROM range({C}) t(i)""", p("customer"))
    _copy(con, f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
        pick(i, 11, 25)::INTEGER AS s_nationkey, round(-999.99 + u(i, 12) * 10999.8, 2) AS s_acctbal
        FROM range({S}) t(i)""", p("supplier"))
    _copy(con, f"""SELECT i AS p_partkey,
        (['large','small','hot','cold','shiny','matte','red','blue'])[pick(i, 21, 8) + 1] || ' ' ||
        (['ring','bolt','nut','screw','gear','pipe','valve','spring'])[pick(i, 22, 8) + 1] AS p_name,
        'Brand#' || (pick(i, 23, 25) + 1) AS p_brand,
        (['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD'])[pick(i, 24, 6) + 1] AS p_type,
        (pick(i, 25, 50) + 1)::INTEGER AS p_size, 900.0 + (i % 1000) / 10.0 AS p_retailprice
        FROM range({P}) t(i)""", p("part"))
    _copy(con, f"""SELECT i AS o_orderkey, pick(i, 31, {C}) AS o_custkey,
        (['F','O','P'])[pick(i, 32, 3) + 1] AS o_orderstatus,
        round(1000.0 + u(i, 33) * 499000.0, 2) AS o_totalprice,
        (TIMESTAMP '1995-01-01' + to_days(pick(i, 34, 2404)::INTEGER)) AS o_orderdate,
        (['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'])[pick(i, 35, 5) + 1] AS o_orderpriority
        FROM range({O}) t(i)""", p("orders"))
    _copy(con, f"""SELECT pick(i, 41, {O}) AS l_orderkey, pick(i, 42, {P}) AS l_partkey,
        pick(i, 43, {S}) AS l_suppkey, (pick(i, 44, 7) + 1)::INTEGER AS l_linenumber,
        (pick(i, 45, 50) + 1)::DOUBLE AS l_quantity,
        round(900.0 + u(i, 46) * 104100.0, 2) AS l_extendedprice,
        pick(i, 47, 11) / 100.0 AS l_discount, pick(i, 48, 9) / 100.0 AS l_tax,
        (['A','N','R'])[pick(i, 49, 3) + 1] AS l_returnflag,
        (['F','O'])[pick(i, 50, 2) + 1] AS l_linestatus,
        (TIMESTAMP '1995-01-02' + to_days(pick(i, 51, 2498)::INTEGER)) AS l_shipdate
        FROM range({L}) t(i)""", p("lineitem"))
    _copy(con, f"""SELECT i AS event_id,
        TIMESTAMP '2024-01-01' + to_seconds(pick(i, 61, 30 * 86400)) + to_microseconds(pick(i, 66, 1000000)) AS ts,
        pick(i, 62, {users}) AS user_id,
        (['click','error','purchase','signup','view'])[pick(i, 63, 5) + 1] AS event_type,
        round(u(i, 64) * 560.0, 2) AS value, '{{"k": ' || pick(i, 65, 100) || '}}' AS props
        FROM range({n["events"]}) t(i) ORDER BY ts""", p("events"))
    # documents: random token sequences; 8% are near copies of an earlier
    # document (one token appended), so dedup finds real clusters
    D = n["documents"]
    con.execute(f"""CREATE TABLE base AS SELECT i AS doc_id,
        array_to_string(list_transform(range(10 + pick(i, 71, 91)),
            j -> {vocab}[pick(i * 1000 + j, 72, {len(VOCAB)}) + 1]), ' ') AS text
        FROM range({D}) t(i)""")
    _copy(con, f"""WITH d AS (
          SELECT b.doc_id, CASE WHEN b.doc_id > 0 AND u(b.doc_id, 73) < 0.08
                                THEN o.text || ' shard' ELSE b.text END AS text
          FROM base b LEFT JOIN base o ON o.doc_id = pick(b.doc_id, 74, greatest(b.doc_id, 1)))
        SELECT doc_id, text,
          (['en','en','en','de','es','fr','zh'])[pick(doc_id, 76, 7) + 1] AS lang,
          'src' || (doc_id % 20) AS source, length(text)::BIGINT AS n_chars
        FROM d ORDER BY doc_id""", p("documents"))
    # embeddings: unit vectors pulled towards one of ten label centroids
    _copy(con, f"""WITH r AS (SELECT i, pick(i, 81, 10)::INTEGER AS label,
          list_transform(range(64), d -> (u(pick(i, 81, 10) * 64 + d, 82) - 0.5) * 0.6
                                        + (u(i * 64 + d, 83) - 0.5)) AS v
          FROM range({n["embeddings"]}) t(i))
        SELECT i AS vec_id,
          list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT) AS embedding,
          label FROM r ORDER BY i""", p("embeddings"))
    con.close()
    return {**n, "region": 5, "nation": 25}


def batch_dates(batches):
    """Two runs a day (01:00 and 23:00, the reference schedule)."""
    return [f"2026-01-{1 + k // 2:02d}-{'01' if k % 2 == 0 else '23'}" for k in range(batches)]


def make_landing(out_dir, seed, batches, orders_per_batch):
    """Write ``batches`` landing batches; return the expected pipeline state
    after each batch: rows staged per table, staged totals, analytics rows.
    """
    con = _connect(seed)
    n = int(orders_per_batch)
    tail = max(1, int(n * TAIL_SHARE))
    n_rev = max(1, int(n * 0.7))
    dates = batch_dates(batches)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "dates.txt"), "w") as f:
        f.write("\n".join(dates) + "\n")
    pd_ = 1 - (1 - NULL_DELIVERY) / (1 - NULL_SHIP)  # P(delivery null | shipped)
    for k, dt in enumerate(dates):
        d = os.path.join(out_dir, f"dt={dt}")
        os.makedirs(d, exist_ok=True)
        # keys of batch k: n new ones, plus the previous batch's last `tail`
        lo = k * n + 1 - (tail if k > 0 else 0)
        hi = (k + 1) * n
        con.execute(f"""COPY (SELECT i AS order_id, 1 + pick(i, 101, 5000) AS customer_id,
            strftime(DATE '2025-01-01' + pick(i, 102, 365)::INTEGER, '%Y-%m-%d') AS order_date,
            1 + pick(i, 103, {N_PRODUCTS}) AS product_id, 5 + pick(i, 104, 96) AS unit_price,
            1 + pick(i, 105, 9) AS quantity,
            (5 + pick(i, 104, 96)) * (1 + pick(i, 105, 9)) AS total_price
            FROM range({lo}, {hi + 1}) t(i) ORDER BY i) TO '{d}/orders.csv' (HEADER, DELIMITER ',')""")
        con.execute(f"""COPY (SELECT i AS shipment_id, {k * n + 1} + pick(i, 111, {n}) AS order_id,
            CASE WHEN u(i, 112) < {NULL_SHIP} THEN NULL ELSE strftime(
              DATE '2025-01-01' + pick({k * n + 1} + pick(i, 111, {n}), 102, 365)::INTEGER
                + pick(i, 113, 13)::INTEGER, '%Y-%m-%d') END AS shipment_date,
            CASE WHEN u(i, 112) < {NULL_SHIP} OR u(i, 114) < {pd_} THEN NULL ELSE strftime(
              DATE '2025-01-01' + pick({k * n + 1} + pick(i, 111, {n}), 102, 365)::INTEGER
                + pick(i, 113, 13)::INTEGER + 1 + pick(i, 115, 9)::INTEGER, '%Y-%m-%d') END AS delivery_date
            FROM range({lo}, {hi + 1}) t(i) ORDER BY i) TO '{d}/shipment_deliveries.csv' (HEADER, DELIMITER ',')""")
        # reviews: a small (review, product) domain, so duplicates abound,
        # plus the previous batch's first `tail` reviews re-delivered
        rlo = k * n_rev - (tail if k > 0 else 0)
        con.execute(f"""COPY (SELECT 1 + pick(i, 121, 5) AS review, 1 + pick(i, 122, {N_PRODUCTS}) AS product_id
            FROM range({max(rlo, 0)}, {(k + 1) * n_rev}) t(i) ORDER BY i) TO '{d}/reviews.csv' (HEADER, DELIMITER ',')""")
    expected = expect_landing(con, out_dir, dates)
    con.close()
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected


def expect_landing(con, out_dir, dates):
    """Replay the pipeline's documented semantics over the landed CSVs:
    watermark append (pk > MAX(pk) staged) for orders and shipments, full
    append for reviews, then the three analytics tables.
    """
    for t in ("orders", "shipment_deliveries", "reviews"):
        con.execute(f"CREATE OR REPLACE TABLE st_{t} AS SELECT * FROM read_csv('{out_dir}/dt={dates[0]}/{t}.csv', header=true) LIMIT 0")
    out = []
    pk = {"orders": "order_id", "shipment_deliveries": "shipment_id"}
    for dt in dates:
        staged = {}
        for t in ("orders", "shipment_deliveries", "reviews"):
            src = f"read_csv('{out_dir}/dt={dt}/{t}.csv', header=true, all_varchar=false)"
            where = (f"WHERE {pk[t]} > (SELECT coalesce(max({pk[t]}), 0) FROM st_{t})" if t in pk else "")
            before = con.execute(f"SELECT count(*) FROM st_{t}").fetchone()[0]
            con.execute(f"INSERT INTO st_{t} SELECT * FROM {src} {where}")
            staged[t] = con.execute(f"SELECT count(*) FROM st_{t}").fetchone()[0] - before
        totals = {t: con.execute(f"SELECT count(*) FROM st_{t}").fetchone()[0]
                  for t in ("orders", "shipment_deliveries", "reviews")}
        monthly = con.execute("SELECT " + ", ".join(
            f"coalesce(sum(CASE WHEN month(CAST(order_date AS DATE)) = {m} THEN quantity ELSE 0 END), 0)::INTEGER"
            for m in range(1, 13)) + " FROM st_orders").fetchone()
        ship = con.execute("""SELECT
            count(CASE WHEN CAST(s.shipment_date AS DATE) - CAST(o.order_date AS DATE) >= 6
                        AND s.delivery_date IS NULL THEN 1 END),
            count(CASE WHEN s.delivery_date IS NULL AND s.shipment_date IS NULL THEN 1 END)
            FROM st_shipment_deliveries s JOIN st_orders o USING (order_id)""").fetchone()
        reviews = con.execute(f"""SELECT product_id, {", ".join(
            f"round(sum(CASE WHEN review = {k} THEN 1 ELSE 0 END)::DOUBLE / count(*) * 100.0, 2)"
            for k in range(1, 6))}, count(*),
            CASE WHEN product_id BETWEEN 1 AND 25 THEN 'product_' || product_id END
            FROM st_reviews GROUP BY product_id ORDER BY product_id""").fetchall()
        out.append({
            "dt": dt, "staged": staged, "staged_total": totals,
            "agg_monthly_orders": {f"tt_order_m{m:02d}": int(v) for m, v in zip(range(1, 13), monthly)},
            "agg_shipments": {"tt_late_shipments": int(ship[0]), "tt_undelivered_items": int(ship[1])},
            "review_percentages": [
                {"product_id": r[0], **{f"pct_{k}_star": r[k] for k in range(1, 6)},
                 "tt_reviews": r[6], "product_name": r[7]} for r in reviews],
        })
    return out
