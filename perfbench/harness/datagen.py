"""Seeded TPC-H-shaped tables, the shape graft's GraphModel and LDBC
catalog read: region, nation, customer, supplier, part, orders and
lineitem, written as parquet with the same column names and types as
the test tables described in TESTDATA.md.

Every column is a pure function of (seed, table, row id, column) via
DuckDB's hash, so the same seed gives byte-for-byte the same values.
"""
import os

import duckdb

# rows per unit of scale, as in the TPC-H-shaped test tables
PER_SCALE = {"customer": 150000, "supplier": 10000, "part": 200000,
             "orders": 1500000, "lineitem": 6000000}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]


def sizes(scale):
    return {t: max(5, int(round(n * scale))) for t, n in PER_SCALE.items()}


def _sql(seed, n):
    # h(t, id, k): a 63-bit non-negative hash of (seed, table, row, column)
    h = f"(hash({int(seed)}, {{t}}, {{id}}, {{k}}) >> 1)"

    def H(t, k, idcol="range"):
        return h.format(t=t, id=idcol, k=k)

    def pick(t, k, values):
        lst = "[" + ", ".join(f"'{v}'" for v in values) + "]"
        return f"{lst}[1 + ({H(t, k)} % {len(values)})::INTEGER]"

    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    words = ["small", "red", "blue", "green", "ring", "widget", "bolt", "gear",
             "spring", "plate"]
    ptypes = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
    status = ["F", "O", "P"]
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    flags = ["A", "N", "R"]
    days = 2404  # 1995-01-01 .. 2001-08-01
    return {
        "region": """SELECT r::INTEGER AS r_regionkey,
              ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][r + 1] AS r_name
            FROM range(5) t(r)""",
        "nation": """SELECT n::INTEGER AS n_nationkey, 'NATION_' || n AS n_name,
              (n % 5)::INTEGER AS n_regionkey FROM range(25) t(n)""",
        "customer": f"""SELECT range::BIGINT AS c_custkey,
              'Customer#' || lpad(range::VARCHAR, 9, '0') AS c_name,
              ({H(1, 1)} % 25)::INTEGER AS c_nationkey,
              round(({H(1, 2)} % 1099999) / 100.0 - 999.99, 2)::DOUBLE AS c_acctbal,
              {pick(1, 3, segments)} AS c_mktsegment
            FROM range({n['customer']})""",
        "supplier": f"""SELECT range::BIGINT AS s_suppkey,
              'Supplier#' || lpad(range::VARCHAR, 9, '0') AS s_name,
              ({H(2, 1)} % 25)::INTEGER AS s_nationkey,
              round(({H(2, 2)} % 1099999) / 100.0 - 999.99, 2)::DOUBLE AS s_acctbal
            FROM range({n['supplier']})""",
        "part": f"""SELECT range::BIGINT AS p_partkey,
              {pick(3, 1, words)} || ' ' || {pick(3, 2, words)} AS p_name,
              'Brand#' || (1 + {H(3, 3)} % 25) AS p_brand,
              {pick(3, 4, ptypes)} AS p_type,
              (1 + {H(3, 5)} % 50)::INTEGER AS p_size,
              round(900.0 + range % 20000 / 10.0, 2)::DOUBLE AS p_retailprice
            FROM range({n['part']})""",
        "orders": f"""SELECT range::BIGINT AS o_orderkey,
              ({H(4, 1)} % {n['customer']})::BIGINT AS o_custkey,
              {pick(4, 2, status)} AS o_orderstatus,
              round(({H(4, 3)} % 45000000) / 100.0 + 857.71, 2)::DOUBLE AS o_totalprice,
              (TIMESTAMP '1995-01-01' + to_days(({H(4, 4)} % {days})::INTEGER))
                AS o_orderdate,
              {pick(4, 5, prio)} AS o_orderpriority
            FROM range({n['orders']})""",
        "lineitem": f"""SELECT ({H(5, 1)} % {n['orders']})::BIGINT AS l_orderkey,
              ({H(5, 2)} % {n['part']})::BIGINT AS l_partkey,
              ({H(5, 3)} % {n['supplier']})::BIGINT AS l_suppkey,
              (1 + {H(5, 4)} % 7)::INTEGER AS l_linenumber,
              (1 + {H(5, 5)} % 50)::DOUBLE AS l_quantity,
              round(({H(5, 6)} % 10000000) / 100.0 + 900.0, 2)::DOUBLE AS l_extendedprice,
              (({H(5, 7)} % 11) / 100.0)::DOUBLE AS l_discount,
              (({H(5, 8)} % 9) / 100.0)::DOUBLE AS l_tax,
              {pick(5, 9, flags)} AS l_returnflag,
              {pick(5, 10, ['F', 'O'])} AS l_linestatus,
              (TIMESTAMP '1995-01-01' + to_days(({H(5, 11)} % {days})::INTEGER))
                AS l_shipdate
            FROM range({n['lineitem']})""",
    }


def make(out_dir, seed, scale):
    """Writes the seven tables under out_dir/<table>.parquet."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t, sql in _sql(seed, sizes(scale)).items():
        path = os.path.join(out_dir, f"{t}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    con.close()


def input_bytes(data_dir):
    return sum(os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))
               for t in TABLES)


def connect(data_dir):
    """A DuckDB connection with one view per table, as the oracles
    expect."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    return con
