"""Registered operator queries over seeded tables, each timed as *build*
(the constructor call, eager Spark jobs included) and *execute* (result
materialized in the driver with ``toPandas``), checked against DuckDB.

Selection rule: one query per operator module whose queries the
ROADMAP or the benchmark issue names, taking the ROADMAP-named query
where the module has one and otherwise the cheapest named one, so that
one pass fits the run budget on a 4-core host: relational (q10, the
regressed row), voxel_rel, similarity (the standing IVF index), corpus
and multimodal. dedup is left out: its cheapest named query
(``minhash_lsh_pairs``) costs ~5 s cold, a seventh of the pass. The
order is permuted by the seed.
"""

from __future__ import annotations

import os

from perfbench import gen, oracle

QUERIES = [
    "q10_returned_items",     # relational
    "vox_unique_bbox",        # voxel_rel
    "ivf_ann_topk",           # similarity (standing IVF index)
    "tfidf_top_terms",        # corpus
    "mm_image_features",      # multimodal
]
SF = 0.01


class QuerySet:
    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.sf_dir = os.path.join(work, "tables")

    def generate(self) -> None:
        """Tables and DuckDB digests; needs no Spark session."""
        from cloud_volume_spark.operators import all_oracle_sql, all_queries

        gen.write_query_tables(gen.query_tables(self.seed, SF), self.sf_dir)
        registry, sqls = all_queries(), all_oracle_sql()
        self.fns = {q: registry[q] for q in QUERIES}
        self.digests = oracle.oracle_digests(
            self.sf_dir, {q: sqls[q] for q in QUERIES})

    def order(self, pass_index: int) -> list:
        """The seed's query order for one pass."""
        rng = gen.rng_for(self.seed, f"order{pass_index}")
        return [QUERIES[i] for i in rng.permutation(len(QUERIES))]

    def run_pass(self, rec, spark, pass_index: int) -> None:
        for q in self.order(pass_index):
            self._one(rec, spark, q)

    def _one(self, rec, spark, q: str) -> None:
        df = rec.run(f"build:{q}", "query_build", "operators",
                     lambda: self.fns[q](spark, self.sf_dir))
        if df is None:
            return
        want = self.digests[q]
        rec.run(f"exec:{q}", "query_exec", "operators", df.toPandas,
                lambda pdf: None if oracle.digest(pdf) == want
                else f"{q}: result differs from the DuckDB oracle "
                     f"({len(pdf)} rows)")

    @staticmethod
    def report(rec) -> dict:
        from perfbench.stats import median

        out = {}
        for q in QUERIES:
            b = rec.by_name.get(f"build:{q}")
            e = rec.by_name.get(f"exec:{q}")
            if b:
                out[f"{q}.build_s"] = (median(b), "s", len(b))
            if e:
                out[f"{q}.exec_s"] = (median(e), "s", len(e))
        return out
