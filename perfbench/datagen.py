"""Seeded tables for the inventory workload, written as parquet with DuckDB.

The tables have the names, columns and types the inventory queries read
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) at about the row counts of scale factor 0.01. Every
value is a function of (seed, table, row), through DuckDB's hash(), so the
same seed gives the same bytes whatever the thread count.

    python3 perfbench/datagen.py <out_dir> <seed>
"""
import os
import sys

import duckdb

ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

WORDS = ("key agg row scan slow fast table value part hash a merge batch the line sort "
         "window spark order data column join small customer query big group filter "
         "stream vector").split()


def generate(out, seed):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    s = int(seed)

    def u(salt, *cols):
        """Uniform in [0, 1) from (seed, salt, cols)."""
        args = ", ".join(str(c) for c in cols)
        return f"((hash({args}, {s}, {salt}) % 1000000007) / 1000000007.0)"

    def ui(salt, n, *cols):
        return f"CAST(floor({u(salt, *cols)} * {n}) AS BIGINT)"

    def pick(salt, xs, *cols):
        lst = "[" + ", ".join("'" + x + "'" for x in xs) + "]"
        return f"{lst}[{ui(salt, len(xs), *cols)} + 1]"

    def copy(name, sql):
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")

    copy("region", "SELECT CAST(i AS INTEGER) AS r_regionkey, "
         "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name FROM range(5) t(i)")
    copy("nation", "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
         "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)")
    copy("customer", f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
        CAST({ui(1, 25, 'i')} AS INTEGER) AS c_nationkey,
        round({u(2, 'i')} * 11000 - 1000, 2) AS c_acctbal,
        {pick(3, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 'i')} AS c_mktsegment
        FROM range({ROWS['customer']}) t(i)""")
    copy("supplier", f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
        CAST({ui(4, 25, 'i')} AS INTEGER) AS s_nationkey,
        round({u(5, 'i')} * 11000 - 1000, 2) AS s_acctbal
        FROM range({ROWS['supplier']}) t(i)""")
    copy("part", f"""SELECT i AS p_partkey,
        {pick(6, ['small', 'red', 'blue', 'green', 'large', 'steel', 'brass'], 'i')} || ' ' ||
        {pick(7, ['ring', 'widget', 'bolt', 'gear', 'nut', 'pipe'], 'i')} AS p_name,
        'Brand#' || ({ui(8, 25, 'i')} + 1) AS p_brand,
        {pick(9, ['ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM', 'LARGE', 'PROMO'], 'i')} AS p_type,
        CAST({ui(10, 50, 'i')} + 1 AS INTEGER) AS p_size,
        round(900 + (i % 1000) / 10.0, 2) AS p_retailprice
        FROM range({ROWS['part']}) t(i)""")
    copy("orders", f"""SELECT i AS o_orderkey, {ui(11, ROWS['customer'], 'i')} AS o_custkey,
        {pick(12, ['F', 'O', 'P'], 'i')} AS o_orderstatus,
        round({u(13, 'i')} * 500000 + 1000, 2) AS o_totalprice,
        TIMESTAMP '1992-01-01' + to_days(CAST({ui(14, 3650, 'i')} AS INTEGER)) AS o_orderdate,
        {pick(15, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 'i')} AS o_orderpriority
        FROM range({ROWS['orders']}) t(i)""")
    copy("lineitem", f"""SELECT {ui(16, ROWS['orders'], 'i')} AS l_orderkey,
        {ui(17, ROWS['part'], 'i')} AS l_partkey, {ui(18, ROWS['supplier'], 'i')} AS l_suppkey,
        CAST(i % 7 + 1 AS INTEGER) AS l_linenumber,
        CAST({ui(19, 50, 'i')} + 1 AS DOUBLE) AS l_quantity,
        round({u(20, 'i')} * 100000 + 900, 2) AS l_extendedprice,
        {ui(21, 11, 'i')} / 100.0 AS l_discount, {ui(22, 9, 'i')} / 100.0 AS l_tax,
        {pick(23, ['A', 'N', 'R'], 'i')} AS l_returnflag, {pick(24, ['F', 'O'], 'i')} AS l_linestatus,
        TIMESTAMP '1992-01-01' + to_days(CAST({ui(25, 3650, 'i')} AS INTEGER)) AS l_shipdate
        FROM range({ROWS['lineitem']}) t(i)""")
    copy("events", f"""WITH e AS (SELECT
          TIMESTAMP '2024-01-01' + to_microseconds({ui(26, 30 * 86400 * 1000000, 'i')}) AS ts,
          {ui(27, 150, 'i')} AS user_id,
          {pick(28, ['click', 'signup', 'error', 'view', 'purchase'], 'i')} AS event_type,
          round({u(29, 'i')} * 490 + 0.01, 2) AS value,
          '{{"k": ' || {ui(30, 100, 'i')} || '}}' AS props, i
        FROM range({ROWS['events']}) t(i))
        SELECT CAST(row_number() OVER (ORDER BY ts, i) - 1 AS BIGINT) AS event_id, ts, user_id,
          event_type, value, props FROM e ORDER BY event_id""")
    # documents: random word sequences; one in ten copies an earlier
    # document with a few words swapped, one in twenty repeats one exactly
    words = "[" + ", ".join("'" + w + "'" for w in WORDS) + "]"
    copy("documents", f"""WITH base AS (
          SELECT i, array_to_string(list_transform(range(20 + {ui(31, 50, 'i')}),
            j -> {words}[{ui(32, len(WORDS), 'i', 'j')} + 1]), ' ') AS t FROM range({ROWS['documents']}) t(i)),
        m AS (SELECT i, {u(33, 'i')} AS r,
            CASE WHEN i > 0 THEN {ui(34, 1000000, 'i')} % i ELSE 0 END AS src FROM range({ROWS['documents']}) t(i)),
        d AS (SELECT m.i, CASE
            WHEN m.r < 0.05 AND m.i > 0 THEN s.t
            WHEN m.r < 0.15 AND m.i > 0 THEN array_to_string(list_transform(string_split(s.t, ' '),
                (w, k) -> CASE WHEN {u(35, 'm.i', 'k')} < 0.06 THEN {words}[{ui(36, len(WORDS), 'm.i', 'k')} + 1] ELSE w END), ' ')
            ELSE b.t END AS text
          FROM m JOIN base b ON b.i = m.i JOIN base s ON s.i = m.src)
        SELECT i AS doc_id, text,
          {pick(37, ['en', 'en', 'en', 'en', 'de', 'es', 'fr', 'zh'], 'i')} AS lang,
          'src' || {ui(38, 20, 'i')} AS source, CAST(length(text) AS BIGINT) AS n_chars
        FROM d ORDER BY doc_id""")
    # embeddings: 64 roughly normal components (Box-Muller), label 0..9
    copy("embeddings", f"""SELECT i AS vec_id,
        CAST(list_transform(range(64), d -> 0.1 * sqrt(-2 * ln(1 - {u(39, 'i', 'd')}))
          * cos(2 * pi() * {u(40, 'i', 'd')})) AS FLOAT[]) AS embedding,
        CAST({ui(41, 10, 'i')} AS INTEGER) AS label
        FROM range({ROWS['embeddings']}) t(i)""")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], sys.argv[2])
