"""Deterministic generator for the benchmark's fixture tables.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one Parquet file each)
with the schemas and value distributions of the engine's test fixtures
(FIXTURES.md section 1): a TPC-H-subset star schema, an event stream,
a text corpus with planted near-duplicates, and unit-norm embeddings.

Every value is a pure function of (seed, table, row, column) through
DuckDB's `hash`, so the same seed and scale always give byte-identical
tables regardless of thread count.

Usage: python3 gen_fixture.py <out_dir> <scale> <seed>
"""
import os
import sys

import duckdb

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
LANGS = ["en", "en", "en", "en", "en", "en", "de", "de", "es", "es",
         "fr", "fr", "zh", "zh"]


def sql_list(items):
    return "[" + ", ".join(f"'{x}'" for x in items) + "]"


def generate(out_dir, scale, seed):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    seed = int(seed)

    def u(tag, i="i"):
        """Uniform double in [0, 1) for (seed, tag, row)."""
        return f"(hash({seed}, '{tag}', {i}) % 1000000007) / 1000000007.0"

    def pick(tag, n, i="i"):
        return f"CAST(floor({u(tag, i)} * {n}) AS BIGINT)"

    n_cust = max(150, int(150000 * scale))
    n_supp = max(10, int(10000 * scale))
    n_part = max(200, int(200000 * scale))
    n_ord = max(1500, int(1500000 * scale))
    n_line = n_ord * 4
    n_ev = max(1000, int(1000000 * scale))
    n_users = max(150, n_ev * 15 // 1000)
    n_docs = max(500, int(50000 * scale))
    n_emb = max(500, int(20000 * scale))
    dim = 64

    def write(name, select):
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET)")

    write("region", """
        SELECT CAST(i AS INTEGER) AS r_regionkey,
               ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1]
                 AS r_name
        FROM range(5) t(i)""")
    write("nation", """
        SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
               CAST(i % 5 AS INTEGER) AS n_regionkey
        FROM range(25) t(i)""")
    write("customer", f"""
        SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0')
                 AS c_name,
               CAST({pick('c_nat', 25)} AS INTEGER) AS c_nationkey,
               round(-999.99 + {u('c_bal')} * 10999.98, 2) AS c_acctbal,
               ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                'MACHINERY'][{pick('c_seg', 5)} + 1] AS c_mktsegment
        FROM range({n_cust}) t(i)""")
    write("supplier", f"""
        SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0')
                 AS s_name,
               CAST({pick('s_nat', 25)} AS INTEGER) AS s_nationkey,
               round(-999.99 + {u('s_bal')} * 10999.98, 2) AS s_acctbal
        FROM range({n_supp}) t(i)""")
    write("part", f"""
        SELECT i AS p_partkey,
               {sql_list(PART_ADJ)}[{pick('p_adj', 8)} + 1] || ' ' ||
                 {sql_list(PART_NOUN)}[{pick('p_noun', 8)} + 1] AS p_name,
               'Brand#' || ({pick('p_brand', 25)} + 1) AS p_brand,
               ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL',
                'STANDARD'][{pick('p_type', 6)} + 1] AS p_type,
               CAST({pick('p_size', 50)} + 1 AS INTEGER) AS p_size,
               round(900 + (i % 1000) / 10.0, 1) AS p_retailprice
        FROM range({n_part}) t(i)""")
    # Order and ship dates are whole days in [1995-01-01, 2001-08-01] and
    # [1995-01-02, 2001-11-04], stored as microsecond timestamps.
    write("orders", f"""
        SELECT i AS o_orderkey, {pick('o_cust', n_cust)} AS o_custkey,
               ['F', 'O', 'P'][{pick('o_st', 3)} + 1] AS o_orderstatus,
               round(1000 + {u('o_tp')} * 499000, 2) AS o_totalprice,
               TIMESTAMP '1995-01-01' + to_days(
                 CAST({pick('o_date', 2404)} AS INTEGER)) AS o_orderdate,
               ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                '5-LOW'][{pick('o_pri', 5)} + 1] AS o_orderpriority
        FROM range({n_ord}) t(i)""")
    write("lineitem", f"""
        SELECT {pick('l_ord', n_ord)} AS l_orderkey,
               {pick('l_part', n_part)} AS l_partkey,
               {pick('l_supp', n_supp)} AS l_suppkey,
               CAST({pick('l_no', 7)} + 1 AS INTEGER) AS l_linenumber,
               CAST({pick('l_qty', 50)} + 1 AS DOUBLE) AS l_quantity,
               round(900 + {u('l_ext')} * 104100, 2) AS l_extendedprice,
               round({u('l_disc')} * 10) / 100 AS l_discount,
               round({u('l_tax')} * 8) / 100 AS l_tax,
               ['A', 'N', 'R'][{pick('l_rf', 3)} + 1] AS l_returnflag,
               ['F', 'O'][{pick('l_ls', 2)} + 1] AS l_linestatus,
               TIMESTAMP '1995-01-02' + to_days(
                 CAST({pick('l_ship', 2498)} AS INTEGER)) AS l_shipdate
        FROM range({n_line}) t(i)""")
    # Events arrive in id order over January 2024 with jittered gaps;
    # values are exponential with mean 50.
    span_us = 30 * 86400 * 1000000
    write("events", f"""
        SELECT i AS event_id,
               TIMESTAMP '2024-01-01' + to_microseconds(CAST(
                 (i + {u('e_ts')}) * {span_us} / {n_ev} AS BIGINT)) AS ts,
               {pick('e_user', n_users)} AS user_id,
               ['click', 'error', 'purchase', 'signup', 'view'][
                 {pick('e_type', 5)} + 1] AS event_type,
               round(-50 * ln(1 - {u('e_val')}), 2) AS value,
               '{{"k": ' || {pick('e_k', 100)} || '}}' AS props
        FROM range({n_ev}) t(i)""")
    # Documents: 10-100 words from a 30-word vocabulary. One in twenty
    # copies an earlier document: most copies replace a few words and
    # append a 'dup' token, one in twenty of them is exact.
    con.execute(f"""
        CREATE TEMP TABLE base_docs AS
        SELECT i AS doc_id, list_transform(
                 range(CAST(10 + floor({u('d_len')} * 91) AS BIGINT)),
                 w -> {sql_list(VOCAB)}[
                   CAST(floor((hash({seed}, 'd_w', i, w) % 1000003)
                     / 1000003.0 * {len(VOCAB)}) AS BIGINT) + 1]) AS words
        FROM range({n_docs}) t(i)""")
    write("documents", f"""
        WITH d AS (
          SELECT b.doc_id,
                 CASE WHEN {u('d_dup', 'b.doc_id')} >= 0.05 OR b.doc_id = 0
                      THEN b.words
                      WHEN {u('d_exact', 'b.doc_id')} < 0.05 THEN src.words
                      ELSE list_transform(
                             range(len(src.words)),
                             w -> CASE WHEN (hash({seed}, 'd_sub', b.doc_id, w)
                                             % 1000003) / 1000003.0 >= 0.04
                                       THEN src.words[w + 1]
                                       ELSE 'data' END) || ['dup']
                      END AS words
          FROM base_docs b
          LEFT JOIN base_docs src ON src.doc_id = CAST(
            floor({u('d_src', 'b.doc_id')} * b.doc_id) AS BIGINT))
        SELECT doc_id, array_to_string(words, ' ') AS text,
               {sql_list(LANGS)}[{pick('d_lang', len(LANGS), 'doc_id')} + 1]
                 AS lang,
               'src' || (doc_id % 20) AS source,
               CAST(length(array_to_string(words, ' ')) AS BIGINT) AS n_chars
        FROM d ORDER BY doc_id""")
    # Embeddings: Box-Muller Gaussian components, normalized to unit L2.
    write("embeddings", f"""
        WITH g AS (
          SELECT i AS vec_id, list_transform(range({dim}), k ->
                   sqrt(-2 * ln(1 - (hash({seed}, 'v_a', i, k) % 1000003)
                                    / 1000003.0))
                   * cos(2 * pi() * (hash({seed}, 'v_b', i, k) % 1000003)
                         / 1000003.0)) AS v
          FROM range({n_emb}) t(i))
        SELECT vec_id,
               CAST(list_transform(v, x -> x / sqrt(list_aggregate(
                 list_transform(v, y -> y * y), 'sum'))) AS FLOAT[])
                 AS embedding,
               CAST({pick('v_label', 10, 'vec_id')} AS INTEGER) AS label
        FROM g ORDER BY vec_id""")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), sys.argv[3])
