"""`analytics`: the 32 headline registry queries over an sf directory.

Each query is materialized the way the headline harness does it: the
NOOP_SINK set through the noop sink (the full plan runs, no driver
transfer), the rest by `collect()`. The names are pinned here so that an
edit elsewhere cannot change this workload. The set-up pass collects
every query once, compares it with the registry's DuckDB oracle
(`ORACLE_SQL`) and doubles as the warm-up; measured passes run all 32
queries in a seeded order.
"""

from __future__ import annotations

import math
import sys

import duckdb

from workload import Workload

HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier", "q7_nation_volume",
    "q18_large_volume_orders", "q4_order_priority", "q9_product_profit",
    "q21_sole_late_supplier", "agg_rollup", "window_rank_topn", "window_moving_frames",
    "events_tumbling_hourly", "events_sessionize", "events_keep_last", "events_asof_join",
    "events_range_join", "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_emb_cosine", "docs_quality_score", "docs_decontaminate",
    "docs_pack_windows", "docs_curation_pipeline", "docs_domain_mix",
    "docs_boilerplate_coverage", "media_feature_digest", "emb_cosine_topk", "emb_knn_join",
    "emb_ivf_topk", "emb_int8_quant_error",
]
NOOP_SINK = {
    "window_moving_frames", "events_keep_last", "events_asof_join", "events_range_join",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_emb_cosine", "docs_quality_score",
}


def _normalize(rows, cols) -> list[tuple]:
    """Rows with columns in name order, sorted: an order-insensitive form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(round(r[i], 9) if isinstance(r[i], float) else r[i] for i in order)
           for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def _same(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not (math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
                        or (math.isnan(x) and math.isnan(y))):
                    return False
            elif str(x) != str(y):
                return False
    return True


class Analytics(Workload):
    name = "analytics"
    cycle_s = 40.0

    def __init__(self, *a, sf_dir: str, **kw):
        super().__init__(*a, **kw)
        self.sf_dir = sf_dir
        self.cycle = [str(n) for n in self.rng.permutation(HEADLINE)]
        self.expected: dict[str, list[tuple]] = {}

    def setup(self) -> None:
        from dl_datalake_spark.queries import ORACLE_SQL, QUERIES
        from dl_datalake_spark.tables import TABLE_NAMES

        self.queries = QUERIES
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        for i, name in enumerate(HEADLINE):
            ok = False
            try:
                rel = con.sql(ORACLE_SQL[name])
                self.expected[name] = _normalize(rel.fetchall(), rel.columns)
                df = QUERIES[name](self.spark, self.sf_dir)
                ok = _same(_normalize(df.collect(), df.columns), self.expected[name])
                if not ok:
                    print(f"analytics: {name} differs from its oracle", file=sys.stderr)
            except Exception as e:  # a failing query is a failed op, not a crash
                print(f"analytics: {name}: {type(e).__name__}: {e}", file=sys.stderr)
            self.ops.append({"kind": name, "s": 0.0, "rows": 0, "ok": ok, "phase": "setup",
                             "index": -1 - i})
        con.close()

    def sizes(self) -> dict:
        import pyarrow.parquet as pq
        from dl_datalake_spark.tables import TABLE_NAMES

        return {t: pq.ParquetFile(f"{self.sf_dir}/{t}.parquet").metadata.num_rows
                for t in TABLE_NAMES}

    def plan(self, name: str, rng) -> dict:
        self.spark.catalog.clearCache()  # no reuse between queries, as in bench.py
        return {}

    def execute(self, name: str, p: dict):
        tr = self.tracer
        with tr.span("queries.query", query=name):
            with tr.span("queries.build"):
                df = self.queries[name](self.spark, self.sf_dir)
            with tr.span("queries.exec"):
                if name in NOOP_SINK:
                    df.write.format("noop").mode("overwrite").save()
                    out = None
                else:
                    out = df.collect()
        return df, df, (df.columns, out)

    def check(self, name: str, p: dict, out) -> tuple[bool, int]:
        cols, rows = out
        if rows is None:  # the noop sink returns nothing; set-up checked the plan
            return True, 0
        return _same(_normalize(rows, cols), self.expected[name]), len(rows)

    def e2e(self) -> dict:
        ops = self.measured()
        per = {n: self.median([o["s"] for o in ops if o["kind"] == n]) for n in HEADLINE}
        return {"suite_s": (sum(per.values()), "s")}
