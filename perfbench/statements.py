"""The interactive_sql statements: eight families, each a small fixed
pool of statements, each statement paired with the DuckDB SQL that must
give the same rows. The `match` family's oracle is the
registry's own (SparkEntry.oracleSql), filled in by the runner."""
import datagen

FAMILIES = ("point", "pricing", "star", "distinct_on", "match", "search",
            "topk", "fed")
MATCH_ORACLE_KEY = "q75_match_label_aggs"

_DEC = "CAST(SUM(CAST({} AS DECIMAL(38,6))) AS DOUBLE)"


def _point(k):
    sql = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
           f"o_orderdate, o_orderpriority FROM orders WHERE o_orderkey = {k}")
    return sql, sql


def _pricing(day):
    sql = ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
           f"{_DEC.format('l_quantity')} AS sum_qty, "
           f"{_DEC.format('l_extendedprice')} AS sum_price, "
           f"{_DEC.format('l_extendedprice * (1 - l_discount)')} AS revenue "
           f"FROM lineitem WHERE l_shipdate <= TIMESTAMP '{day}' "
           "GROUP BY l_returnflag, l_linestatus")
    return sql, sql


def _star(segment, day):
    sql = ("SELECT n_name, COUNT(*) AS n_lines, "
           f"{_DEC.format('l_extendedprice * (1 - l_discount)')} AS revenue "
           "FROM customer JOIN orders ON c_custkey = o_custkey "
           "JOIN lineitem ON l_orderkey = o_orderkey "
           "JOIN nation ON c_nationkey = n_nationkey "
           f"WHERE c_mktsegment = '{segment}' "
           f"AND o_orderdate < TIMESTAMP '{day}' GROUP BY n_name")
    return sql, sql


def _distinct_on(order_col):
    order = f"{order_col} DESC, l_orderkey, l_linenumber"
    sql = f"GRAFT DISTINCT ON (l_suppkey) FROM lineitem ORDER BY {order}"
    oracle = ("SELECT * EXCLUDE (rn) FROM (SELECT *, ROW_NUMBER() OVER "
              f"(PARTITION BY l_suppkey ORDER BY {order}) AS rn "
              "FROM lineitem) WHERE rn = 1")
    return sql, oracle


def _match():
    sql = ("GRAFT MATCH 'click view* purchase' ON events KEY user_id "
           "ORDER ts LABEL event_type VALUE value")
    return sql, None


def _search(terms, k):
    sql = (f"GRAFT SEARCH documents ID doc_id TEXT text FOR "
           f"'{' '.join(terms)}' TOP {k}")
    in_list = ", ".join(f"'{t}'" for t in terms)
    score = "\n    + ".join(
        f"COALESCE(SUM(CASE WHEN term = '{t}' THEN w END), 0.0)"
        for t in terms)
    oracle = f"""WITH terms AS (SELECT doc_id, unnest(list_filter(
    regexp_split_to_array(LOWER(text), '[^a-z0-9]+'),
    x -> LENGTH(x) > 0)) AS term
  FROM documents),
dlen AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY doc_id),
st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
    CAST(SUM(CAST(dl AS DECIMAL(38,6))) AS DOUBLE)
      / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dlen),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
  WHERE term IN ({in_list}) GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
w AS (SELECT tf.doc_id, tf.term,
    LN((st.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
      * (CAST(tf.tf AS DOUBLE) * 2.2)
      / (CAST(tf.tf AS DOUBLE)
        + 1.2 * (0.25 + 0.75 * (CAST(dlen.dl AS DOUBLE) / st.avgdl)))
      AS w
  FROM tf JOIN dfreq USING (term) JOIN dlen USING (doc_id)
  CROSS JOIN st),
sc AS (SELECT doc_id, ROUND({score}, 6) AS score
  FROM w GROUP BY doc_id),
rked AS (SELECT doc_id, score, CAST(ROW_NUMBER() OVER
    (ORDER BY score DESC, doc_id) AS INT) AS rk FROM sc)
SELECT rk, doc_id, score FROM rked WHERE rk <= {k}"""
    return sql, oracle


def _topk(k):
    sql = ("GRAFT TOPK orders KEY o_orderpriority SCORE o_totalprice "
           f"ID o_orderkey K {k}")
    oracle = f"""WITH r AS (SELECT o_orderpriority, o_orderkey,
    ROUND(CAST(o_totalprice AS DOUBLE), 6) AS score,
    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders)
SELECT o_orderpriority, o_orderkey, score, CAST(rk AS INTEGER) AS rk
FROM r WHERE rk <= {k}"""
    return sql, oracle


def _fed(nation):
    sql = ("SELECT c_mktsegment, COUNT(*) AS n, "
           "CAST(SUM(c_acctbal) AS DOUBLE) AS bal "
           f"FROM fedcat.APP.CUSTOMER_FED WHERE c_nationkey = {nation} "
           "GROUP BY c_mktsegment")
    oracle = ("SELECT c_mktsegment, COUNT(*) AS n, "
              "CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal "
              f"FROM customer WHERE c_nationkey = {nation} "
              "GROUP BY c_mktsegment")
    return sql, oracle


def build(sf):
    """[(id, family, statement, oracle-or-None)]. The pool is the same for
    every seed, so every run sends the same work; the seed shapes the
    data and each client's order."""
    n_orders = datagen.sizes(sf)["orders"]
    pools = {
        "point": [_point(n_orders * k // 3 + 7) for k in range(2)],
        "pricing": [_pricing(d) for d in ("1996-06-01", "2000-12-01")],
        "star": [_star(seg, d) for seg, d in
                 (("BUILDING", "1997-03-01"), ("MACHINERY", "2001-01-01"))],
        "distinct_on": [_distinct_on(c) for c in
                        ("l_shipdate", "l_extendedprice")],
        "match": [_match()],
        "search": [_search(("fast", "slow", "batch"), 5),
                   _search(("join", "window", "stream"), 10)],
        "topk": [_topk(k) for k in (1, 5)],
        "fed": [_fed(k) for k in (3, 19)],
    }
    out = []
    for fam in FAMILIES:
        for i, (sql, oracle) in enumerate(pools[fam]):
            out.append((f"{fam}_{i}", fam, sql, oracle))
    return out
