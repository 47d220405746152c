"""``warehouse_queries`` and ``curation_queries``: warm passes over a
fixed set of registry queries on generated tables.

Each operation builds one query (``spec.spark_fn``: planning plus any
eager driver-side pre-work) and executes it through the ``noop`` sink.
The seed fixes the order of the queries in every timed pass; the tables
come from a fixed data seed so every pass does the same work. Set-up
runs one cold pass, in list order, that collects each result; after
the timed window each collected result is compared with the query's DuckDB ``oracle_sql`` on
the same parquet files (row count plus an order-insensitive value
hash), and a mismatch fails every operation of that query.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

import gen

DATA_SEED = 42

WAREHOUSE = [
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume", "tpch_q6_revenue_forecast",
    "tpch_q9_product_profit", "tpch_q13_customer_distribution",
    "tpch_q18_large_volume_customers", "tpch_q21_suppliers_kept_waiting",
    "stg_typed_projection", "ods_sanitized_ids", "int_latest_per_key",
    "dwh_daily_metrics",
]
CURATION = [
    "dedup_minhash_lsh_pairs", "pagerank_supply_graph",
    "stream_dedup_watermark",
]


def digest(cols, rows) -> "tuple[int, str]":
    """(row count, order-insensitive hash) of a result, canonicalised
    by the repo's oracle checker (columns sorted by name, cells
    normalised to strings, rows sorted)."""
    from tools.check_oracle import canon

    rows = canon(rows, cols)
    text = repr((sorted(cols), rows))
    return len(rows), hashlib.sha256(text.encode("utf-8")).hexdigest()


class RegistryQueries:
    def __init__(self, ctx, names: "list[str]", sf: float):
        self.ctx = ctx
        self.names = names
        self.sf = sf
        self.table_rows: "dict[str, int]" = {}

    def setup(self, spark, work: str) -> None:
        from metar_pipeline_spark.queries import all_queries

        self.spark = spark
        self.specs = all_queries()
        self.data = os.path.join(work, "data")
        tabs = gen.tables(DATA_SEED, self.sf)
        gen.write_tables(tabs, self.data)
        self.table_rows.update({k: t.num_rows for k, t in tabs.items()})
        rng = np.random.default_rng(self.ctx.seed)
        self.order = [self.names[int(i)]
                      for i in rng.permutation(len(self.names))]
        # Cold pass in the fixed list order, whatever the seed: the
        # order of first executions shapes the JVM's compiled code for
        # the rest of the run (a seeded cold order made whole runs ~1.6x
        # slower for some seeds).
        self.results: "dict[str, tuple[int, str]]" = {}
        for q in self.names:
            df = self.specs[q].spark_fn(spark, self.data)
            self.results[q] = digest(df.columns, df.collect())

    @property
    def pass_len(self) -> int:
        return len(self.order)

    def make_op(self, i: int):
        q = self.order[i % len(self.order)]
        spec, tr = self.specs[q], self.ctx.tracer
        spark, data = self.spark, self.data

        def run():
            with tr.span("queries.build"):
                df = spec.spark_fn(spark, data)
            with tr.span("engine.exec"):
                df.write.format("noop").mode("overwrite").save()
            return True

        return q, run

    def check(self, i: int, res) -> bool:
        return res is True

    def final_check(self) -> "set[str]":
        """Names of queries whose result differs from the oracle."""
        import duckdb

        from metar_pipeline_spark.io import TABLES

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{os.path.join(self.data, t)}.parquet')"
            )
        bad = set()
        for q, got in self.results.items():
            cur = con.execute(self.specs[q].oracle)
            cols = [d[0] for d in cur.description]
            if digest(cols, cur.fetchall()) != got:
                bad.add(q)
        con.close()
        return bad

    def storage(self, written: int) -> "dict[str, float]":
        return {}
