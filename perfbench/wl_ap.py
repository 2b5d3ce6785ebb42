"""ap_cluster: dense Affinity Propagation, ``ap.q_ap_assign`` at N=2,000
on the blocked dense engine (``ap_dense.DenseAP``), T=5, damping 0.5.

``ap.clear_cache()`` and an unpersist run after every clustering so none
is a memo hit.  The sparse loops are left out: each costs a run more than
the run budget holds, or spread too widely to bound (README.md, "What was
left out").
"""

from __future__ import annotations

import os

import numpy as np

import gen
import harness
import refs

T = 5
SPARSE_K = 32  # candidate-graph width of the traced run's probe
N = 2000
OP_KINDS = ("ap.dense_2k",)
SPARK_KINDS = OP_KINDS
EXPECTED_FAIL: tuple = ()


def _labels(tbl) -> np.ndarray:
    lab = np.full(N, -2, dtype="i8")
    lab[tbl.column("vec_id").to_numpy()] = tbl.column("exemplar").to_numpy()
    return lab


class Workload:
    def __init__(self, spark, scratch: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.sf_dir, self.x = gen.ap_corpus(os.path.join(scratch, "ap"), seed, N)

    def _dense(self):
        from affinity_propagation_mapreduce_spark.operators import ap

        return ap.q_ap_assign(self.spark, self.sf_dir).toArrow()

    def warm_up(self, rec: harness.Recorder) -> None:
        """One untimed clustering: the first pays its first-use cost (JIT,
        code generation, worker start-up), about twice a warm one here; a
        warm-up on a smaller corpus measured neither cheaper nor as
        effective."""
        rec.run("warm.dense_2k", self._dense, timed=False)
        harness.clean_spark_state(self.spark)

    def cycle(self, rec: harness.Recorder, c: int) -> None:
        rec.run("ap.dense_2k", self._dense)
        harness.clean_spark_state(self.spark)

    def probes(self, rec: harness.Recorder) -> dict:
        """Traced run: the dense engine's stages and the candidate graph,
        each timed through its public function."""
        from affinity_propagation_mapreduce_spark.operators import ap, ap_dense

        d = rec.probe("ap_dense.load_s", lambda: ap_dense.DenseAP(self.spark, self.sf_dir))
        st = rec.probe("ap_dense.chain_s", lambda: d.chain(T, retain=False)[-1])
        rec.probe(
            "ap_dense.assign_s",
            lambda: d.assign(st, ex=d.ex_hint("median", refs.LAM, T)).toArrow(),
        )
        d.destroy()
        harness.clean_spark_state(self.spark)
        rec.probe("ap.candidates_2k_s",
                  lambda: ap.knn_candidate_pairs(self.spark, self.sf_dir, SPARSE_K).count())
        harness.clean_spark_state(self.spark)
        return {}

    def check(self, rec: harness.Recorder) -> None:
        ref = refs.dense_ap(self.x, T)

        def check_one(op) -> str:
            lab = _labels(op.output)
            if np.any(lab == -2) or op.output.num_rows != len(lab):
                return "points missing or repeated in the output"
            bad = int(np.sum(lab != ref))
            return f"{bad} labels differ from the numpy reference" if bad else ""

        harness.check_ops(rec.ops, check_one)
