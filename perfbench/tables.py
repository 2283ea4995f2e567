"""Seeded tables of the sf0.1 shape for the `queries` workload.

The query library reads ten parquet tables (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings). This
module writes them with DuckDB from a seed: every value is a hash of
(row, column salt, seed), so the same seed gives byte-identical tables and
different seeds give different data of the same shape.

The shape is that of the repository's sf0.1 test tables (TESTDATA.md),
read from them with DuckDB and recorded here, so a run needs no file
outside its checkout:

- row counts: `SF01_ROWS`; `write(..., fraction)` scales every table but
  region and nation by `fraction` (1.0 gives the sf0.1 counts).
- keys: dense from 0. Order, part and supplier keys of lineitem are
  uniform, which gives sf0.1's lines per order (1-12, Poisson-like, mean 4)
  and its 630 lines with `l_partkey <= 20` at any fraction. Customer and
  supplier nations uniform over 25.
- TPC-H values: the sf0.1 ranges (acctbal -999.99..9999.99, totalprice
  1000..500000, orderdate 1995-01-01 + 0..2404 days, shipdate 1995-01-02 +
  0..2498 days, quantity 1..50, discount 0..0.10, tax 0..0.08, retailprice
  900 + (partkey % 200) / 10, 25 brands, 6 types, p_name 8 x 8 words, sizes
  1..50), each uniform.
- events: ts uniform over January 2024 and increasing with event_id; 1500
  users at sf0.1 (about 66 events each), 5 event types uniform; value
  exponential with mean 50 (sf0.1: mean 49.9, median 34.8); props
  `{"k": 0..99}`.
- documents: 10..99 words drawn uniformly from sf0.1's 30-word vocabulary;
  5 % of the documents are near-duplicates, the text of another document
  plus the word "dup" (sf0.1: 250 of 5000, which also leaves a few exact
  duplicate pairs); lang "en" for 41 %, the other four 14.75 % each;
  source `src<doc_id % 20>`; n_chars the text's length.
- embeddings: 64 dimensions, unit-norm Gaussian, label uniform over 10.
"""
import os

import duckdb

SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "users": 1500, "documents": 5000, "embeddings": 2000}
VOCAB = ("the a spark group query row data slow small filter customer line "
         "batch value merge table join agg column vector order key sort "
         "scan part window big fast hash stream").split()
LANGS = ["fr", "es", "zh", "de"]  # after "en"
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "new", "cold", "large", "hot", "red", "blue", "old"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "rod", "anvil", "plate"]
EMB_DIM = 64


def _lit(values):
    return "[" + ",".join("'" + v + "'" for v in values) + "]"


def _tables(fraction):
    """(name, SELECT) for every table; `u(i, salt)` is uniform in [0, 1)."""
    n = {t: max(1, round(c * fraction)) for t, c in SF01_ROWS.items()}
    n_cust, n_supp, n_part = n["customer"], n["supplier"], n["part"]
    n_ord, n_line, n_ev = n["orders"], n["lineitem"], n["events"]
    n_users, n_docs, n_emb = n["users"], n["documents"], n["embeddings"]
    pick = lambda lst, i, salt: (  # noqa: E731
        f"{_lit(lst)}[1 + floor(u({i}, '{salt}') * {len(lst)})::INT]")
    return [
        ("region", """SELECT range::INTEGER AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][range + 1]
              AS r_name FROM range(5)"""),
        ("nation", """SELECT range::INTEGER AS n_nationkey,
            'NATION_' || range AS n_name, (range % 5)::INTEGER AS n_regionkey
            FROM range(25)"""),
        ("customer", f"""SELECT range AS c_custkey,
            'Customer#' || lpad(range::VARCHAR, 9, '0') AS c_name,
            floor(u(range, 'cn') * 25)::INTEGER AS c_nationkey,
            round(-999.99 + u(range, 'cb') * 10999.98, 2) AS c_acctbal,
            {pick(SEGMENTS, 'range', 'cs')} AS c_mktsegment
            FROM range({n_cust})"""),
        ("supplier", f"""SELECT range AS s_suppkey,
            'Supplier#' || lpad(range::VARCHAR, 9, '0') AS s_name,
            floor(u(range, 'sn') * 25)::INTEGER AS s_nationkey,
            round(-999.99 + u(range, 'sb') * 10999.98, 2) AS s_acctbal
            FROM range({n_supp})"""),
        ("part", f"""SELECT range AS p_partkey,
            {pick(P_ADJ, 'range', 'pa')} || ' ' || {pick(P_NOUN, 'range', 'pn')}
              AS p_name,
            'Brand#' || (1 + floor(u(range, 'pb') * 25)::INT) AS p_brand,
            {pick(P_TYPES, 'range', 'pt')} AS p_type,
            (1 + floor(u(range, 'ps') * 50))::INTEGER AS p_size,
            900.0 + (range % 200) / 10.0 AS p_retailprice
            FROM range({n_part})"""),
        ("orders", f"""SELECT range AS o_orderkey,
            floor(u(range, 'oc') * {n_cust})::BIGINT AS o_custkey,
            ['F','O','P'][1 + floor(u(range, 'os') * 3)::INT] AS o_orderstatus,
            round(1000 + u(range, 'op') * 499000, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(floor(u(range, 'od') * 2404)::INT)
              AS o_orderdate,
            {pick(PRIORITIES, 'range', 'oo')} AS o_orderpriority
            FROM range({n_ord})"""),
        ("lineitem", f"""SELECT
            floor(u(range, 'lo') * {n_ord})::BIGINT AS l_orderkey,
            floor(u(range, 'lp') * {n_part})::BIGINT AS l_partkey,
            floor(u(range, 'ls') * {n_supp})::BIGINT AS l_suppkey,
            (1 + floor(u(range, 'll') * 7))::INTEGER AS l_linenumber,
            (1 + floor(u(range, 'lq') * 50))::DOUBLE AS l_quantity,
            round(900 + u(range, 'le') * 99000, 2) AS l_extendedprice,
            floor(u(range, 'ld') * 11) / 100.0 AS l_discount,
            floor(u(range, 'lt') * 9) / 100.0 AS l_tax,
            ['N','A','R'][1 + floor(u(range, 'lr') * 3)::INT] AS l_returnflag,
            ['O','F'][1 + floor(u(range, 'lx') * 2)::INT] AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(floor(u(range, 'lh') * 2498)::INT)
              AS l_shipdate
            FROM range({n_line})"""),
        ("events", f"""SELECT range AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(
              (range * 2592000000000 // {n_ev}
               + floor(u(range, 'et') * 2592000000000 / {n_ev}))::BIGINT) AS ts,
            floor(u(range, 'eu') * {n_users})::BIGINT AS user_id,
            {pick(EVENT_TYPES, 'range', 'ey')} AS event_type,
            round(-50 * ln(1 - u(range, 'ev')), 2) AS value,
            '{{"k": ' || floor(u(range, 'ek') * 100)::INT || '}}' AS props
            FROM range({n_ev})"""),
        ("documents", f"""WITH w AS (
              SELECT d.range AS doc_id, k.range AS pos,
                {_lit(VOCAB)}[1 + floor(u(d.range * 1000 + k.range, 'dw')
                                        * {len(VOCAB)})::INT] AS word
              FROM range({n_docs}) d, range(100) k
              WHERE k.range < 10 + floor(u(d.range, 'dl') * 90)),
            b AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text
                  FROM w GROUP BY doc_id),
            t AS (SELECT d.doc_id, CASE WHEN u(d.doc_id, 'dd') < 0.05
                    THEN s.text || ' dup' ELSE d.text END AS text
                  FROM b d JOIN b s ON s.doc_id =
                    floor(u(d.doc_id, 'ds') * {n_docs})::BIGINT)
            SELECT doc_id, text,
              CASE WHEN u(doc_id, 'dg') < 0.41 THEN 'en'
                   ELSE {pick(LANGS, 'doc_id', 'dh')} END AS lang,
              'src' || (doc_id % 20) AS source,
              length(text)::BIGINT AS n_chars
            FROM t"""),
        ("embeddings", f"""WITH g AS (
              SELECT v.range AS vec_id, k.range AS dim,
                sqrt(-2 * ln(1 - u(v.range * 100 + k.range, 'g1')))
                  * cos(2 * pi() * u(v.range * 100 + k.range, 'g2')) AS x
              FROM range({n_emb}) v, range({EMB_DIM}) k),
            n AS (SELECT vec_id, sqrt(sum(x * x)) AS norm FROM g GROUP BY 1)
            SELECT g.vec_id,
              list((x / norm)::FLOAT ORDER BY dim) AS embedding,
              floor(u(g.vec_id, 'el') * 10)::INTEGER AS label
            FROM g JOIN n USING (vec_id) GROUP BY g.vec_id"""),
    ]


def write(out_dir, seed, fraction):
    """Writes every table as `<out_dir>/<name>.parquet` (one file each),
    with `fraction` times sf0.1's rows."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute(f"""CREATE MACRO u(i, c) AS
        (hash(i, c, {int(seed)}) % 1000000007) / 1000000007.0""")
    for name, sql in _tables(fraction):
        con.execute(f"COPY ({sql} ORDER BY 1) TO "
                    f"'{os.path.join(out_dir, name)}.parquet' (FORMAT PARQUET)")
    con.close()
