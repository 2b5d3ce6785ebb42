"""ann_churn: a persisted serving index under appends and deletes.

Set-up builds a ``store_raw`` index with ``meta_cols=("label",)`` over a
seeded clustered corpus at a fresh path inside the run's scratch dir.
Each cycle then runs, one operation at a time:

  ann.serve                    serve_topk, 16 queries
  ann.exhaustive_serve         serve_topk with n_probe = nlist (flat path)
  ann.append                   append_ann_index, 200 new vectors
  ann.delete                   delete_ann_index, 200 live ids
  ann.serve_after_append       first serve after the writes (auto)
  ann.exhaustive_after_append  first exhaustive serve after the writes
  ann.compact                  compact_ann_index (full fold)

so every cycle starts from a compacted index and a run is whole cycles.
"""

from __future__ import annotations

import json
import os

import numpy as np

import gen
import harness
import refs

N_BASE = 2_000
DIM = 64
N_CLUSTERS = 64
N_QUERIES = 16
N_APPEND = 200
N_DELETE = 200
TOP_K = 5  # serve_topk's fixed k
FILTER = "label % 10 = 0"  # the traced run's selectivity probe
RECALL_FLOOR = 0.8
OP_KINDS = (
    "ann.serve", "ann.exhaustive_serve", "ann.append",
    "ann.delete", "ann.serve_after_append", "ann.exhaustive_after_append",
    "ann.compact",
)
SPARK_KINDS = ("ann.build",) + tuple(k for k in OP_KINDS if k != "ann.exhaustive_after_append")
# The whole-tree scan behind the flat path is memoized on a key an append
# does not change (operators/ann_index.py _codes_scan), so an exhaustive
# serve after an in-process append never sees the appended vectors.
EXPECTED_FAIL = ("ann.exhaustive_after_append",)


def _codes_files(root: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class Workload:
    def __init__(self, spark, scratch: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.rng = np.random.default_rng((seed, 5))
        x, lab, self.centres = gen.clustered(self.rng, N_BASE, DIM, N_CLUSTERS, 0.5)
        self.ids = np.arange(N_BASE, dtype="i8")
        self.x = x
        self.lab = lab % N_CLUSTERS
        self.live = np.ones(N_BASE, dtype=bool)
        self.sf_dir = os.path.join(scratch, "ann_sf")
        os.makedirs(self.sf_dir, exist_ok=True)
        self.path = os.path.join(scratch, "ann_index")
        self.next_id = N_BASE
        self.codes_files_max = 0
        self.build_op = None

    def _df(self, ids, x, lab):
        return self.spark.createDataFrame(gen.emb_table(ids, x, lab))

    def _batch(self, exact_of: np.ndarray | None = None):
        """16 queries near random live vectors; with ``exact_of``, the
        first rows are exact copies of those vectors.  Query ids lie
        outside the corpus."""
        live = np.flatnonzero(self.live)
        pick = self.rng.choice(live, N_QUERIES, replace=False)
        q = self.x[pick].astype("f8") + 0.05 * self.rng.normal(size=(N_QUERIES, DIM))
        if exact_of is not None:
            q[: len(exact_of)] = exact_of.astype("f4").astype("f8")
        qids = np.arange(10**12, 10**12 + N_QUERIES, dtype="i8")
        qn = np.sqrt((q * q).sum(1))
        return qids, q, qn

    def build(self, rec: harness.Recorder) -> None:
        from affinity_propagation_mapreduce_spark.operators import ann_index as ann

        df = self._df(self.ids, self.x, self.lab)
        self.build_op = rec.run(
            "ann.build",
            lambda: ann.build_ann_index(
                self.spark, self.sf_dir, path=self.path, emb_raw=df,
                store_raw=True, meta_cols=("label",),
            ),
            timed=False,
        )
        self.nlist = int(ann.load_ann_model(self.spark, self.path)[0]["nlist"])

    def _serve(self, batch, n_probe=None):
        from affinity_propagation_mapreduce_spark.operators import ann_index as ann

        qids, q, qn = batch
        return ann.serve_topk(self.spark, self.path, qids, q, qn, n_probe=n_probe).toArrow()

    def warm_up(self, rec: harness.Recorder) -> None:
        """None beyond the build, which starts the JVM, code generation and
        the Python workers: each serving and write path is timed on its
        first use in the run (README.md, "Warm-up")."""

    def _state(self):
        return {"live": self.live.copy(), "n": self.next_id}

    def cycle(self, rec: harness.Recorder, c: int) -> None:
        from affinity_propagation_mapreduce_spark.operators import ann_index as ann

        b = self._batch()
        rec.run("ann.serve", lambda: self._serve(b), batch=b, **self._state())
        rec.run("ann.exhaustive_serve", lambda: self._serve(b, self.nlist), batch=b, **self._state())

        new_ids = np.arange(self.next_id, self.next_id + N_APPEND, dtype="i8")
        cl = self.rng.integers(0, N_CLUSTERS, N_APPEND)
        new_x = (self.centres[cl] + 0.5 * self.rng.normal(size=(N_APPEND, DIM))).astype("f4")
        df = self._df(new_ids, new_x, cl.astype("i4"))
        rec.run("ann.append", lambda: ann.append_ann_index(self.spark, self.path, df, f"a{c}"),
                expect=N_APPEND)
        self.ids = np.concatenate([self.ids, new_ids])
        self.x = np.concatenate([self.x, new_x])
        self.lab = np.concatenate([self.lab, cl.astype("i4")])
        self.live = np.concatenate([self.live, np.ones(N_APPEND, dtype=bool)])
        self.next_id += N_APPEND

        gone = self.rng.choice(np.flatnonzero(self.live[: self.next_id - N_APPEND]),
                               N_DELETE, replace=False)
        gone_df = self.spark.createDataFrame([(int(i),) for i in gone], "vec_id long")
        rec.run("ann.delete",
                lambda: ann.delete_ann_index(self.spark, self.path, gone_df, f"d{c}"),
                expect=N_DELETE)
        self.live[gone] = False

        pick = self.rng.choice(N_APPEND, 8, replace=False)
        ba = self._batch(exact_of=new_x[pick])
        st = self._state()
        rec.run("ann.serve_after_append", lambda: self._serve(ba), batch=ba,
                appended=new_ids[pick], **st)
        rec.run("ann.exhaustive_after_append", lambda: self._serve(ba, self.nlist),
                batch=ba, appended=new_ids[pick], **st)
        self.codes_files_max = max(self.codes_files_max, _codes_files(ann.codes_root(self.path))[0])
        rec.run("ann.compact", lambda: ann.compact_ann_index(self.spark, self.path),
                live_n=int(self.live.sum()))

    def probes(self, rec: harness.Recorder) -> dict:
        """Traced run, after the last compaction: cold model load and
        selectivity estimate (the compaction changed both), the shortlist
        stage alone, and the layout on disk."""
        from affinity_propagation_mapreduce_spark.operators import ann_index as ann

        rec.probe("ann_index.load_model_s", lambda: ann.load_ann_model(self.spark, self.path))
        qids, q, qn = self._batch()
        rec.probe("ann_index.search_s",
                  lambda: ann.search_auto(self.spark, self.path, qids, q, qn)[0].toArrow())
        rec.probe("ann_index.selectivity_s",
                  lambda: ann.estimate_selectivity(self.spark, self.path, FILTER))
        n_files, size = _codes_files(ann.codes_root(self.path))
        return {
            "ann_index.delete_s": harness.median([o.wall for o in rec.of("ann.delete")]),
            "ann_index.codes_files_max": float(self.codes_files_max),
            "ann_index.codes_files_after_compact": float(n_files),
            "ann_index.bytes_per_vector": size / max(1, int(self.live.sum())),
        }

    def check(self, rec: harness.Recorder) -> None:
        with open(os.path.join(self.path, "meta.json")) as fh:
            meta_n = int(json.load(fh)["n"])
        last_compact = rec.of("ann.compact")[-1]

        def check_one(op) -> str:
            if op is last_compact and meta_n != op.context["live_n"]:
                return f"index counts {meta_n} live vectors, expected {op.context['live_n']}"
            return self._check_one(op)

        harness.check_ops(rec.ops, check_one)

    def _check_one(self, op) -> str:
        ctx = op.context
        if op.kind in ("ann.append", "ann.delete"):
            return "" if op.output == ctx["expect"] else f"returned {op.output}, expected {ctx['expect']}"
        if op.kind == "ann.compact":
            # only the last compaction can be compared with meta.json
            return ""
        n = ctx["n"]
        live = ctx["live"]
        qids, q, _qn = ctx["batch"]
        exact = refs.cosine_topk(self.ids[:n], self.x[:n], q, TOP_K, keep=live)
        tbl = op.output
        qcol = tbl.column("query_id").to_numpy()
        ncol = tbl.column("neighbor_id").to_numpy()
        ccol = tbl.column("cosine").to_numpy()
        got = []
        for qi in qids:
            m = qcol == qi
            order = np.lexsort((ncol[m], -ccol[m]))
            got.append([int(v) for v in ncol[m][order]])
        dead = set(self.ids[:n][~live].tolist())
        for row in got:
            if dead.intersection(row):
                return "a deleted id was served"
        if "appended" in ctx:
            found = sum(
                1 for row, want in zip(got, ctx["appended"]) if row and row[0] == want
            )
            if found < len(ctx["appended"]):
                return f"{found}/{len(ctx['appended'])} appended vectors served at rank 1"
        hits = sum(len(set(g) & set(e)) for g, e in zip(got, exact))
        recall = hits / max(1, sum(len(e) for e in exact))
        if recall < RECALL_FLOOR:
            return f"recall@{TOP_K} {recall:.3f} < {RECALL_FLOOR}"
        return ""
