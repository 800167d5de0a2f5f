"""The two query workloads: seeded permutations of catalog entries.

Each op builds one catalog entry (``catalog.QUERIES[name](spark, dir)``)
and collects it with ``toPandas()``, the way a dashboard or an export
reads its result. The collected result is checked outside the timed
region against the entry's DuckDB oracle (``catalog.ORACLES``; every
entry benchmarked here has one) the way ``tools/oracle_check.check_query``
compares them, with that module's own helpers. ``check_query`` itself
is not called in the timed loop because it builds and collects the
entry a second time.
"""

from __future__ import annotations

import random
import time

OFFRES_DASHBOARDS = [
    "flagship_orders_by_month",
    "agg_pricing_summary",
    "join_enrich",
    "agg_topk",
    "agg_distinct",
    "join_anti",
    "agg_date_histogram",
    "pipeline_export_offres",
    "q_shipping_priority",
    "q_market_share",
    "q_returned_items",
    "window_topk_per_group",
    "join_asof",
    "ts_moving_stats",
]

# Trimmed to fit a run: text cleaning, the map-side Python semantic
# dedup, and hybrid search, which recompiles generated code on every
# warm run. TF-IDF, MinHash, LSH, prefix-filter, vector-search, DSIR and
# classifier entries are left out for time.
CORPUS_CURATION = [
    "pipeline_clean_text",
    "dedup_semantic",
    "search_hybrid_rrf",
]


class Expected:
    """What each entry's collected result must equal: the oracle's
    column names and its rows as a canonical multiset, computed once
    per run before the first pass."""

    def __init__(self, data_dir: str, names: list[str]):
        import oracle_check as oc
        from data_analyse_marche_emploi_spark import catalog

        self.oc = oc
        self.want: dict = {}
        self.cols: dict = {}
        con = oc.duck_con(data_dir)
        try:
            for name in names:
                if name not in catalog.ORACLES:  # rows-only entry
                    continue
                odf = con.execute(catalog.ORACLES[name]).df()
                cols = [c.lower() for c in odf.columns]
                self.cols[name] = sorted(cols)
                self.want[name] = oc._rows_to_multiset(
                    list(odf.itertuples(index=False, name=None)), cols
                )
        finally:
            con.close()

    def check(self, name: str, pdf) -> bool:
        """``check_query``'s comparison: same column names (compared
        lower-cased) and the same canonical multiset of rows; an entry
        with no oracle only has to canonicalize."""
        cols = [c.lower() for c in pdf.columns]
        rows = list(pdf.itertuples(index=False, name=None))
        got = self.oc._rows_to_multiset(rows, cols)  # raises on bad cells
        if name not in self.want:
            return True
        return sorted(cols) == self.cols[name] and got == self.want[name]


class QueryWorkload:
    def __init__(self, spark, data_dir: str, names: list[str], seed: int,
                 tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.names = names
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.expected = Expected(data_dir, names)

    def run_pass(self, p: int, record) -> None:
        from data_analyse_marche_emploi_spark import catalog

        order = list(self.names)
        self.rng.shuffle(order)
        for name in order:
            with self.tracer.op(name, "query") as span:
                t0 = time.perf_counter()
                try:
                    with self.tracer.build():
                        df = catalog.QUERIES[name](self.spark, self.data_dir)
                    pdf = df.toPandas()
                    span.df = df
                    err = None
                except Exception as e:  # noqa: BLE001 - counted as failed
                    pdf, err = None, e
                span.seconds = dt = time.perf_counter() - t0
            ok = err is None
            if ok:
                try:
                    ok = self.expected.check(name, pdf)
                except Exception as e:  # noqa: BLE001 - counted as failed
                    ok, err = False, e
                if not ok and err is None:
                    print(f"[query] {name}: result differs from the oracle",
                          flush=True)
            if err is not None:
                print(f"[query] {name} failed: {err!r}"[:500], flush=True)
            record("query", dt, ok, name)

    def final_check(self) -> bool:
        return True
