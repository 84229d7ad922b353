"""Independent DuckDB answers the benchmark checks the engine's outputs
against. Every query here restates the reference semantics directly in
SQL: co-occurrence counts distinct orders, the customer score counts
(order, product, order, other) paths, ties break by ascending product id,
and an empty primary answer falls back to same-brand products."""

from __future__ import annotations

import duckdb
import pyarrow as pa

_PRODUCT = """
WITH items AS (SELECT DISTINCT order_id, product_id FROM all_items WHERE bi <= $bi),
seed AS (SELECT order_id FROM items WHERE product_id = $key)
SELECT i.product_id, CAST(COUNT(*) AS DOUBLE) AS score, 'co-occurrence' AS reason
FROM items i JOIN seed USING (order_id)
WHERE i.product_id <> $key
GROUP BY i.product_id ORDER BY score DESC, i.product_id LIMIT 10
"""

_CUSTOMER = """
WITH items AS (SELECT DISTINCT order_id, product_id FROM all_items WHERE bi <= $bi),
mine AS (SELECT DISTINCT order_id FROM all_placed WHERE bi <= $bi AND customer_id = $key),
mc AS (SELECT product_id AS p, COUNT(*) AS m FROM items JOIN mine USING (order_id)
       GROUP BY 1),
w AS (SELECT a.product_id AS p, b.product_id AS other, COUNT(*) AS n
      FROM items a JOIN items b ON a.order_id = b.order_id AND a.product_id <> b.product_id
      WHERE a.product_id IN (SELECT p FROM mc) GROUP BY 1, 2)
SELECT other AS product_id, CAST(SUM(n * m) AS DOUBLE) AS score, 'co-occurrence' AS reason
FROM w JOIN mc USING (p)
WHERE other NOT IN (SELECT p FROM mc)
GROUP BY other ORDER BY score DESC, product_id LIMIT 10
"""

_PRODUCT_FALLBACK = """
SELECT p_partkey AS product_id, 1.0 AS score, 'same-category' AS reason FROM part
WHERE p_brand IN (SELECT p_brand FROM part WHERE p_partkey = $key) AND p_partkey <> $key
ORDER BY p_partkey LIMIT 10
"""

_CUSTOMER_FALLBACK = """
WITH purchased AS (
  SELECT DISTINCT l_partkey AS product_id FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_custkey = $key))
SELECT DISTINCT p_partkey AS product_id, 1.0 AS score, 'same-category' AS reason FROM part
WHERE p_brand IN (SELECT p_brand FROM part JOIN purchased ON p_partkey = product_id)
  AND p_partkey NOT IN (SELECT product_id FROM purchased)
ORDER BY product_id LIMIT 10
"""

_TOP_PAIRS = """
WITH items AS (SELECT DISTINCT order_id, product_id FROM all_items WHERE bi <= $bi)
SELECT a.product_id AS product_a, b.product_id AS product_b, COUNT(*) AS n_orders
FROM items a JOIN items b ON a.order_id = b.order_id AND a.product_id < b.product_id
GROUP BY 1, 2 ORDER BY n_orders DESC, product_a, product_b LIMIT $k
"""


class Oracle:
    """A DuckDB connection over one corpus directory, plus any generated
    micro-batches (``add_batch``) tagged with their batch index."""

    TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

    def __init__(self, corpus_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in self.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
        self.con.execute(
            "CREATE TABLE all_items AS SELECT -1 AS bi, l_orderkey AS order_id, "
            "l_partkey AS product_id FROM lineitem"
        )
        self.con.execute(
            "CREATE TABLE all_placed AS SELECT -1 AS bi, o_orderkey AS order_id, "
            "o_custkey AS customer_id FROM orders"
        )

    def add_batch(self, bi: int, items, placed) -> None:
        """Register micro-batch ``bi``: (order_id, product_id) items and the
        (order_id, customer_id) orders it places."""
        for table, rows in (("all_items", items), ("all_placed", placed)):
            a, b = zip(*rows)
            batch = pa.table({"bi": pa.array([bi] * len(a), pa.int32()),  # noqa: F841
                              "a": pa.array(a, pa.int64()), "b": pa.array(b, pa.int64())})
            self.con.execute(f"INSERT INTO {table} SELECT * FROM batch")

    def _rows(self, sql: str, **params) -> list[tuple]:
        return [(int(p), float(s), r) for p, s, r in self.con.execute(sql, params).fetchall()]

    def product(self, key: int, bi: int = -1) -> list[tuple]:
        return self._rows(_PRODUCT, key=key, bi=bi)

    def customer(self, key: int, bi: int = -1) -> list[tuple]:
        return self._rows(_CUSTOMER, key=key, bi=bi)

    def recs(self, kind: str, key) -> list[tuple]:
        """The expected ``/recs`` items for one request: ``kind`` is
        ``product_id`` or ``customer_id``; a non-integer key means no
        signal and an empty answer."""
        if not isinstance(key, int):
            return []
        if kind == "product_id":
            return self.product(key) or self._rows(_PRODUCT_FALLBACK, key=key)
        return self.customer(key) or self._rows(_CUSTOMER_FALLBACK, key=key)

    def top_pairs(self, bi: int, k: int = 20) -> list[tuple]:
        return [tuple(int(x) for x in r)
                for r in self.con.execute(_TOP_PAIRS, {"bi": bi, "k": k}).fetchall()]

    def close(self) -> None:
        self.con.close()
