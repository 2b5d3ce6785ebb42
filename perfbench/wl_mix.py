"""analytics_mix: passes over the nine non-AP, non-ANN headline queries of
bench.py on seeded TPC-H-like tables.  The seed sets the tables and the
query order of each pass; caches are cleared between queries as
bench.py does.  Each query is run to its full result (Arrow), which the
checks compare with DuckDB running the query's declared oracle SQL."""

from __future__ import annotations

import os
import time

import numpy as np

import gen
import harness
import refs

QUERIES = (
    "pricing_summary", "join_broadcast_star", "win_rank_topk_per_group",
    "join_asof", "sessionize", "dedup_exact", "dedup_near_minhash",
    "udtf_grouped_map", "table_lifecycle",
)
N_ORDERS = 7_500  # a twentieth of sf0.1
OP_KINDS = tuple(f"mix.{q}" for q in QUERIES)
SPARK_KINDS: tuple = ()
EXPECTED_FAIL: tuple = ()
_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings")


class Workload:
    def __init__(self, spark, scratch: str, seed: int):
        from affinity_propagation_mapreduce_spark import registry

        self.spark = spark
        self.seed = seed
        self.sf_dir = gen.mix_tables(os.path.join(scratch, "mix_sf"), seed, N_ORDERS)
        qs = registry.queries()
        self.fns = {q: qs[q] for q in QUERIES}
        oracles = registry.oracle_sql()
        self.oracles = {q: oracles[q] for q in QUERIES}
        self.passes: list[float] = []

    def module_of(self, query: str) -> str:
        return self.fns[query].__module__.rsplit(".", 1)[-1]

    def _one(self, rec, q: str):
        rec.run(f"mix.{q}", lambda: self.fns[q](self.spark, self.sf_dir).toArrow())
        harness.clean_spark_state(self.spark)

    def _order(self, p: int) -> list[str]:
        perm = np.random.default_rng((self.seed, 11, p)).permutation(len(QUERIES))
        return [QUERIES[i] for i in perm]

    def warm_up(self, rec: harness.Recorder) -> None:
        """The engine warm-up only: a warm pass would cost ~25 s whatever
        the table size (JIT and code generation), more than the run
        budget holds, so the timed pass is each query's first run in the
        process (README.md, "Warm-up")."""
        harness.warm_engine(self.spark)

    def cycle(self, rec: harness.Recorder, c: int) -> None:
        t0 = time.time()
        for q in self._order(c):
            self._one(rec, q)
        self.passes.append(time.time() - t0)

    def probes(self, rec: harness.Recorder) -> dict:
        return {}

    def check(self, rec: harness.Recorder) -> None:
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in _TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.sf_dir, t + '.parquet')}')"
            )
        want = {q: con.sql(self.oracles[q]).arrow() for q in QUERIES}
        con.close()
        harness.check_ops(
            rec.ops, lambda op: refs.same_rows(op.output, want[op.kind[len("mix."):]])
        )
