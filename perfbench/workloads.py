"""The four workloads: seeded input generators, the timed operations
(calls into the engine's public functions only) and their output
checks.

Each workload is a class with ``build()`` (generate the inputs),
``warm()`` (build what the operations serve from, then run each
operation kind once, checked) and ``op(i)``, which returns the i-th
operation of a fixed interleave as an ``Op``: the timed call and the
untimed check of its result. ``max_ops``, when set, caps the timed
phase at that many operations whatever ``--seconds`` says. The
generators take the seed; the engine only ever sees the generated
inputs.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
    ivf_build,
    ivf_write,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
    minhash_lsh_pairs,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
    HydrationConfig,
    hydrate,
)
from vector_databases___hydrate_chroma_db_collection_spark.plans import chroma_api
from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
    read_collection,
)
from vector_databases___hydrate_chroma_db_collection_spark.sources.wide import (
    read_wide_embeddings,
)

K = 10  # n_results of every query
MARK = "zqmark"  # token carried by ~1% of documents: the spread filter


class CheckFailed(Exception):
    """An operation's output failed one of the benchmark's checks."""


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@dataclass
class Op:
    kind: str
    items: int
    call: Callable[[], Any]
    check: Callable[[Any], None]
    extras: dict = field(default_factory=dict)


# ------------------------------------------------------------ generators


def mixture(rng, n: int, dim: int, n_clusters: int, zipf: float = 1.0):
    """Gaussian mixture with Zipf-skewed cluster sizes:
    (vectors float32 [n, dim], cluster id per row, centers)."""
    centers = rng.normal(size=(n_clusters, dim))
    weights = 1.0 / np.arange(1, n_clusters + 1) ** zipf
    weights = rng.permutation(weights / weights.sum())
    cluster = rng.choice(n_clusters, size=n, p=weights)
    x = centers[cluster] + 0.35 * rng.normal(size=(n, dim))
    return x.astype(np.float32), cluster, centers


def write_wide(
    path: str,
    vectors: np.ndarray,
    docs: list[str],
    meta_name: str,
    meta: np.ndarray,
    null_rows: np.ndarray,
    null_cols: np.ndarray,
) -> None:
    """The reference's wide input shape: ``__unique_id_`` double,
    ``Text_Review``, one metadata column and ``_Col1.._ColD`` floats,
    with one null cell planted in each row of ``null_rows``."""
    n, dim = vectors.shape
    cols = {
        "__unique_id_": pa.array(np.arange(1, n + 1, dtype=np.float64)),
        "Text_Review": pa.array(docs),
        meta_name: pa.array(meta),
    }
    for j in range(dim):
        mask = np.zeros(n, dtype=bool)
        mask[null_rows[null_cols == j]] = True
        cols[f"_Col{j + 1}"] = pa.array(vectors[:, j], mask=mask)
    pq.write_table(pa.table(cols), path)


def review_docs(rng, n: int, marked: np.ndarray) -> list[str]:
    words = [f"w{j}" for j in range(500)]
    picks = rng.integers(0, len(words), size=(n, 8))
    docs = [f"review {i + 1} " + " ".join(words[k] for k in picks[i]) for i in range(n)]
    for i in np.flatnonzero(marked):
        docs[i] += " " + MARK
    return docs


def dir_snapshot(path: str) -> dict[str, tuple[int, int, int]]:
    """{file: (size, inode, mtime_ns)} under ``path``."""
    out = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def bytes_new(before: dict, after: dict) -> int:
    """Bytes of files that appeared or changed between two snapshots.
    Hard links of untouched files keep their inode and are not new."""
    seen = {v[1] for v in before.values()}
    return sum(v[0] for p, v in after.items()
               if before.get(p) != v and v[1] not in seen)


def ids_of(n: int) -> list[str]:
    """Collection ids as the wide source stringifies ``__unique_id_``."""
    return [f"{float(i)}" for i in range(1, n + 1)]


# --------------------------------------------------------- shared ingest


def ingest(ctx, wide_path: str, root: str, name: str, *, meta_col: str,
           n_cells: int, n_buckets: int | None = None) -> dict:
    """The reference's whole job: wide table -> collection -> IVF
    index. Each layer runs inside its own span, which closes after the
    action that materializes the layer's result. The wide source is
    lazy: its scan and null-row filter run inside hydrate's first job,
    so its span only carries the dropped-row count, and the time and
    CPU of the source show under ``operators.hydrate.hydrate``."""
    T, spark = ctx.tracer, ctx.spark
    wide = spark.read.parquet(wide_path)
    with T.span("sources.wide.read") as sp_src:
        src = read_wide_embeddings(
            wide,
            id_col="__unique_id_",
            text_col="Text_Review",
            embedding_pattern="_Col",
            metadata_col=meta_col,
            null_policy="skip_row",
        )
    with T.span("operators.hydrate.hydrate") as sp:
        rep = hydrate(spark, src, HydrationConfig(
            collection_name=name, root=root, metadata_col="metadata_value",
            metadata_key=meta_col, n_buckets=n_buckets,
        ))
        sp.count(rows_in=rep.rows_in, rows_written=rep.rows_written,
                 rows_rejected=rep.rows_rejected)
    sp_src.count(rows_dropped=pq.read_metadata(wide_path).num_rows - rep.rows_in)
    with T.span("plans.collection") as sp:
        coll = read_collection(spark, root, name)
        snap = dir_snapshot(os.path.join(root, name))
        stored = sum(v[0] for v in snap.values())
        sp.count(bytes_stored=stored, files=len(snap),
                 bytes_written_per_user_byte=stored / os.path.getsize(wide_path))
    idx = os.path.join(root, name + "_ivf")
    t_build = time.perf_counter()
    with T.span("operators.ann.ivf_build") as sp_build:
        assigned, centroids = ivf_build(
            coll, n_centroids=n_cells, seed=ctx.seed, metric="cosine",
            n_rows=rep.rows_written,
        )
    with T.span("operators.ann.ivf_write"):
        ivf_write(assigned, centroids, idx, metric="cosine",
                  source=(root, name),
                  build={"metric": "cosine", "seed": ctx.seed,
                         "n_centroids": n_cells})
    index_build_s = time.perf_counter() - t_build
    with open(os.path.join(idx, "ivf_index.json")) as fh:
        cell_rows = json.load(fh)["train_stats"]["cell_rows"]
    sp_build.count(cell_rows_max_over_mean=max(cell_rows) / np.mean(cell_rows))
    return {"report": rep, "index": idx, "index_build_s": index_build_s,
            "stored_bytes": sum(v[0] for v in dir_snapshot(root).values())}


def check_ingest(rep, n_input: int, n_null: int) -> None:
    """The source drops exactly the rows with a planted null cell, and
    rows written + dropped + rejected account for every input row."""
    dropped = n_input - rep.rows_in
    expect(dropped == n_null, f"source dropped {dropped} rows, {n_null} have nulls")
    expect(rep.rows_written + dropped + rep.rows_rejected == n_input,
           "written + dropped + rejected != input rows")


def plant_nulls(rng, n: int, dim: int, frac: float):
    """(rows, columns) of one null cell in each of ``frac`` of the rows."""
    k = int(round(frac * n))
    return rng.choice(n, size=k, replace=False), rng.integers(0, dim, size=k)


def exact_topk(vecs: np.ndarray, ids: list[str], q: np.ndarray,
               mask: np.ndarray, k: int = K) -> list[str]:
    """Cosine top-k over the rows in ``mask``, best first, ties to the
    smaller id (the engine's order)."""
    rows = np.flatnonzero(mask)
    v = vecs[rows].astype(np.float64)
    s = (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    head = np.argsort(-s, kind="stable")[: 4 * k]
    order = sorted(head, key=lambda r: (-s[r], ids[rows[r]]))
    return [ids[rows[r]] for r in order[:k]]


def check_query_rows(rows, where: dict | None, where_doc: dict | None,
                     n_match: int, dead: set[str] = frozenset()) -> None:
    """Every row honours the filter, no deleted id comes back, and the
    k-fill returns n_results whenever that many rows match."""
    expect(len(rows) == min(K, n_match),
           f"k-fill: {len(rows)} rows for {n_match} matches")
    expect(len({r["id"] for r in rows}) == len(rows), "duplicate ids returned")
    for r in rows:
        if where is not None:
            [(key, val)] = where.items()
            expect(float(r["metadata"][key]) == float(val),
                   f"row {r['id']} violates where {where}")
        if where_doc is not None:
            expect(where_doc["$contains"] in r["document"],
                   f"row {r['id']} violates where_document {where_doc}")
        expect(r["id"] not in dead, f"deleted id {r['id']} returned")


def check_scores(rows, q: np.ndarray, vec_of) -> None:
    """Each row's score is the cosine of the query with that id's
    generated vector, so a row cannot pass with a made-up score."""
    for r in rows:
        v = vec_of(r["id"]).astype(np.float64)
        cos = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        expect(abs(cos - r["score"]) <= 1e-3,
               f"row {r['id']} scores {r['score']}, its cosine is {cos:.5f}")


def recall_of(rows, truth: list[str]) -> float:
    return len({r["id"] for r in rows} & set(truth)) / len(truth)


# ---------------------------------------------------------- ingest_wide


class IngestWide:
    """Timed operation: the whole hydrate job into a fresh root."""

    rows, dim, n_cells, null_frac = 20_000, 64, 16, 0.01
    cycle, max_ops = 1, None

    def __init__(self, ctx):
        self.ctx = ctx

    def build(self) -> None:
        rng = np.random.default_rng(self.ctx.seed)
        x, _cl, _c = mixture(rng, self.rows, self.dim, 16)
        null_rows, null_cols = plant_nulls(rng, self.rows, self.dim, self.null_frac)
        docs = review_docs(rng, self.rows, np.zeros(self.rows, bool))
        rating = rng.integers(1, 6, size=self.rows).astype(np.float64)
        self.dir = os.path.join(self.ctx.workdir, "ingest")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.wide = os.path.join(self.dir, "wide.parquet")
        write_wide(self.wide, x, docs, "Target_Rating", rating, null_rows,
                   null_cols)
        self.n_null = len(null_rows)
        self.input_bytes = os.path.getsize(self.wide)

    def warm(self) -> None:
        self._check(self._run("warm"))

    def _run(self, tag: str) -> dict:
        root = os.path.join(self.dir, tag)
        out = ingest(self.ctx, self.wide, root, "reviews",
                     meta_col="Target_Rating", n_cells=self.n_cells)
        out["root"] = root
        return out

    def _check(self, out: dict) -> None:
        rep = out["report"]
        check_ingest(rep, self.rows, self.n_null)
        with self.ctx.tracer.span("bench.check"):
            n = read_collection(self.ctx.spark, out["root"], "reviews").count()
        expect(n == rep.rows_written, f"collection holds {n} rows")
        shutil.rmtree(out["root"], ignore_errors=True)

    def op(self, i: int) -> Op:
        tag = f"op{i}"
        res: dict = {}

        def call():
            out = self._run(tag)
            res.update(
                index_build_s=out["index_build_s"],
                stored_bytes_per_input_byte=out["stored_bytes"] / self.input_bytes,
            )
            return out

        return Op("ingest", self.rows, call, self._check, res)


# -------------------------------------------------------- serve_filtered


class ServeFiltered:
    """Read-only queries through the IVF door in a fixed cycle of three
    filter kinds: no filter, a document filter matching ~1% of rows
    spread over every cell, and a topic filter on the cluster farthest
    from the query, which empties the probed cells and forces the
    k-fill to double the probe.

    Set-up hydrates the wide table, with a null cell planted in
    ``null_frac`` of its rows for the source to drop, into a bucketed
    collection and indexes it. One write round through the indexed
    write doors follows: ``collection_upsert`` replaces some held rows
    (same vector and topic, new document) and inserts one row per
    pooled query with that query's vector, then
    ``collection_delete_indexed`` removes the inserted rows again. The
    live rows are then exactly the ones the source kept, so the exact
    answers stay valid, while the queries run over rewritten buckets,
    cell upserts and tombstones; a deleted row would rank first for its
    query if it came back. Then ``recall_queries`` queries go through
    the batch door under the document filter, the kind whose recall
    the probe width limits, and set-up ends with one warm-up query of
    each kind. Every answer is compared with the exact top-k under the
    same filter: ``quality()`` is recall@10 averaged within each
    filter kind, then over the three kinds."""

    rows, dim, n_clusters, n_cells, nprobe, n_buckets = 10_000, 64, 16, 8, 3, 4
    pool, recall_queries, upsert_replace, null_frac = 8, 64, 10, 0.01
    kinds = ("none", "spread", "topic")
    # each kind twice per cycle: a run holds at least two samples of
    # every kind, so slow and fast hosts measure the same mix
    cycle = 6
    max_ops = None

    def __init__(self, ctx):
        self.ctx = ctx
        self.recalls: dict[str, list[float]] = {k: [] for k in self.kinds}

    def build(self) -> None:
        ctx = self.ctx
        rng = np.random.default_rng(ctx.seed)
        x, cluster, centers = mixture(rng, self.rows, self.dim, self.n_clusters)
        marked = rng.random(self.rows) < 0.01
        self.docs = review_docs(rng, self.rows, marked)
        null_rows, null_cols = plant_nulls(rng, self.rows, self.dim, self.null_frac)
        self.n_null = len(null_rows)
        self.dir = os.path.join(ctx.workdir, "serve")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.wide = os.path.join(self.dir, "wide.parquet")
        write_wide(self.wide, x, self.docs, "topic", cluster.astype(np.int64),
                   null_rows, null_cols)
        # the exact answers cover the rows the source keeps
        live = np.ones(self.rows, bool)
        live[null_rows] = False
        marked &= live
        self.x, self.topic = x, cluster
        self.ids = ids_of(self.rows)
        self.row_of = {u: k for k, u in enumerate(self.ids)}
        self.queries = self._make_queries(rng, x, cluster, centers, marked, live)
        self.batch = []
        for _ in range(self.recall_queries):
            q = centers[rng.integers(self.n_clusters)] + 0.35 * rng.normal(size=self.dim)
            qd = q.astype(np.float32).astype(np.float64)
            self.batch.append((qd.tolist(), exact_topk(x, self.ids, qd, marked)))
        self.n_marked = int(marked.sum())
        self.replace = sorted(rng.choice(np.flatnonzero(live), size=self.upsert_replace,
                                         replace=False).tolist())
        # ids no answer may hold: rows the source dropped, and later the
        # rows the write round deletes
        self.dead: set[str] = {self.ids[k] for k in null_rows}

    def vec_of(self, row_id: str) -> np.ndarray:
        return self.x[self.row_of[row_id]]

    def warm(self) -> None:
        ctx = self.ctx
        self.root = os.path.join(self.dir, "db")
        built = ingest(ctx, self.wide, self.root, "reviews", meta_col="topic",
                       n_cells=self.n_cells, n_buckets=self.n_buckets)
        check_ingest(built["report"], self.rows, self.n_null)
        self.index = built["index"]
        self._write_round()
        self._batch()
        # each query kind once (the first is the cold one), on the last
        # pooled query, right before the timed phase, which starts from
        # the first: background JIT work the batch door left behind then
        # lands here rather than on the first timed query
        last = len(self.kinds) * (self.pool - 1)
        for i in range(last, last + len(self.kinds)):
            o = self.op(i)
            o.check(o.call())

    def _batch(self) -> None:
        ctx = self.ctx
        wdoc, st = {"$contains": MARK}, {}
        with ctx.tracer.span("plans.chroma_api.query_batch_ivf") as sp:
            t = time.perf_counter()
            rows = chroma_api.collection_query_batch_ivf(
                ctx.spark, self.root, "reviews", [q for q, _t in self.batch], K,
                index_path=self.index, nprobe=self.nprobe, where_document=wdoc,
                stats_out=st).collect()
            self.batch_qps = len(self.batch) / (time.perf_counter() - t)
            sp.count(rounds=st["rounds"])
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["qid"], []).append(r)
        got_recall = []
        for qid, (q, truth) in enumerate(self.batch):
            got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
            check_query_rows(got, None, wdoc, self.n_marked, self.dead)
            check_scores(got, np.asarray(q), self.vec_of)
            got_recall.append(recall_of(got, truth))
        self.recalls["spread"].extend(got_recall)
        sp.count(recall=float(np.mean(got_recall)))

    def _write_round(self) -> None:
        """One checked upsert and one checked indexed delete that leave
        the live rows as generated."""
        ctx, T = self.ctx, self.ctx.tracer
        held = [self.ids[k] for k in self.replace]
        new = [f"new{t}" for t in range(self.pool)]
        ids = held + new
        vecs = [self.x[k] for k in self.replace] + [
            np.asarray(q, np.float32) for q, *_r in self.queries["none"]]
        topics = [int(m) for m in self.topic[self.replace]] + [self.n_clusters] * len(new)
        docs = [self.docs[k] + " rewritten" for k in self.replace] + [
            f"inserted {u}" for u in new]
        before = dir_snapshot(self.root)
        with T.span("plans.chroma_api.upsert") as sp:
            n = chroma_api.collection_upsert(
                ctx.spark, self.root, "reviews", ids=ids,
                embeddings=[v.tolist() for v in vecs], documents=docs,
                metadatas=[{"topic": t} for t in topics], index_paths=[self.index])
        sp.count(bytes_written=bytes_new(before, dir_snapshot(self.root)))
        expect(n == len(ids), f"upsert wrote {n} of {len(ids)}")
        with T.span("bench.check"):
            got = {r["id"]: r["document"] for r in chroma_api.collection_get(
                ctx.spark, self.root, "reviews", ids=ids).collect()}
        for u, d in zip(ids, docs):
            expect(got.get(u) == d, f"upserted {u} reads back {got.get(u)!r}")
        before = dir_snapshot(self.root)
        with T.span("plans.chroma_api.delete_indexed") as sp:
            n = chroma_api.collection_delete_indexed(
                ctx.spark, self.root, "reviews", ids=new, index_paths=[self.index])
        sp.count(bytes_written=bytes_new(before, dir_snapshot(self.root)))
        expect(n == len(new), f"delete removed {n} of {len(new)}")
        with T.span("bench.check"):
            back = chroma_api.collection_get(
                ctx.spark, self.root, "reviews", ids=new).collect()
        expect(not back, f"deleted ids still readable: {[r['id'] for r in back]}")
        self.dead |= set(new)

    def _make_queries(self, rng, x, cluster, centers, marked, live) -> dict:
        counts = np.bincount(cluster[live], minlength=self.n_clusters)
        big = np.flatnonzero(counts >= 2 * K)
        cn = centers / np.linalg.norm(centers, axis=1, keepdims=True)
        out: dict[str, list] = {"none": [], "spread": [], "topic": []}
        for _ in range(self.pool):
            a = int(rng.choice(big))
            q = (centers[a] + 0.35 * rng.normal(size=self.dim)).astype(np.float32)
            qd = q.astype(np.float64)
            out["none"].append((q.tolist(), None, None,
                                exact_topk(x, self.ids, qd, live), int(live.sum())))
            out["spread"].append((q.tolist(), None, {"$contains": MARK},
                                  exact_topk(x, self.ids, qd, marked),
                                  int(marked.sum())))
            far = int(big[np.argmin(cn[big] @ cn[a])])
            mask = (cluster == far) & live
            out["topic"].append((q.tolist(), {"topic": far}, None,
                                 exact_topk(x, self.ids, qd, mask),
                                 int(mask.sum())))
        return out

    def op(self, i: int) -> Op:
        ctx = self.ctx
        kind = self.kinds[i % len(self.kinds)]
        q, where, wdoc, truth, n_match = self.queries[kind][i // len(self.kinds) % self.pool]
        held: dict = {}

        def call():
            st: dict = {}
            with ctx.tracer.span("plans.chroma_api.query_ivf") as sp:
                held["span"] = sp
                rows = chroma_api.collection_query_ivf(
                    ctx.spark, self.root, "reviews", q, K, index_path=self.index,
                    nprobe=self.nprobe, where=where, where_document=wdoc,
                    stats_out=st).collect()
                sp.count(rounds=st["rounds"],
                         probe_fraction=st["final_probe"] / st["n_cells"])
            return rows

        def check(rows):
            check_query_rows(rows, where, wdoc, n_match, self.dead)
            check_scores(rows, np.asarray(q, np.float64), self.vec_of)
            r = recall_of(rows, truth)
            self.recalls[kind].append(r)
            held["span"].count(recall=r)

        return Op(f"query_{kind}", 1, call, check)

    def quality(self) -> float:
        return float(np.mean([np.mean(v) for v in self.recalls.values()]))

    def extras(self) -> dict:
        return {"batch_qps": self.batch_qps,
                **{f"recall_at_10_{k}": float(np.mean(v)) for k, v in self.recalls.items()}}


# ---------------------------------------------------------- mutate_mixed


class MutateMixed:
    """Queries with writes beside them on a bucketed, IVF-indexed
    collection: 4 x query_ivf, 1 x upsert, 1 x delete_indexed."""

    cycle = 6
    max_ops = None

    rows, dim, n_clusters, n_cells, nprobe, n_buckets = 20_000, 64, 16, 16, 2, 8
    upsert_replace, upsert_new, delete_n = 10, 10, 10

    def __init__(self, ctx):
        self.ctx = ctx

    def build(self) -> None:
        ctx = self.ctx
        rng = np.random.default_rng(ctx.seed)
        x, cluster, centers = mixture(rng, self.rows, self.dim, self.n_clusters)
        docs = review_docs(rng, self.rows, np.zeros(self.rows, bool))
        self.dir = os.path.join(ctx.workdir, "mutate")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        wide = os.path.join(self.dir, "wide.parquet")
        write_wide(wide, x, docs, "topic", cluster.astype(np.int64),
                   np.array([], int), np.array([], int))
        self.wide, self.x, self.cluster, self.centers = wide, x, cluster, centers

    def warm(self) -> None:
        # warm every operation kind on a throwaway build; the timed
        # phase starts from a pristine one
        self._fresh("warm")
        for i in range(self.cycle):
            o = self.op(i)
            o.check(o.call())
        self._fresh("live")

    def _fresh(self, tag: str) -> None:
        self.root = os.path.join(self.dir, tag)
        built = ingest(self.ctx, self.wide, self.root, "reviews",
                       meta_col="topic", n_cells=self.n_cells,
                       n_buckets=self.n_buckets)
        expect(built["report"].rows_written == self.rows, "mutate ingest lost rows")
        self.index = built["index"]
        self.live = {i: (self.x[k], int(self.cluster[k]))
                     for k, i in enumerate(ids_of(self.rows))}
        self.dead: set[str] = set()
        self.new_seq = 0
        self.rng = np.random.default_rng([self.ctx.seed, 1])

    def _n_match(self, topic: int | None) -> int:
        if topic is None:
            return len(self.live)
        return sum(1 for v in self.live.values() if v[1] == topic)

    def op(self, i: int) -> Op:
        ctx, slot = self.ctx, i % 6
        if slot < 4:
            a = int(self.rng.integers(self.n_clusters))
            q = (self.centers[a] + 0.35 * self.rng.normal(size=self.dim)).astype(np.float32).tolist()
            where = {"topic": int(self.rng.integers(self.n_clusters))} if slot % 2 else None
            n_match = self._n_match(where["topic"] if where else None)

            def call():
                st: dict = {}
                with ctx.tracer.span("plans.chroma_api.query_ivf") as sp:
                    rows = chroma_api.collection_query_ivf(
                        ctx.spark, self.root, "reviews", q, K,
                        index_path=self.index, nprobe=self.nprobe,
                        where=where, stats_out=st).collect()
                    sp.count(rounds=st["rounds"],
                             probe_fraction=st["final_probe"] / st["n_cells"])
                return rows

            return Op("query", 1, call,
                      lambda rows: check_query_rows(rows, where, None, n_match, self.dead))
        if slot == 4:
            held = sorted(self.live)
            pick = self.rng.choice(len(held), size=self.upsert_replace, replace=False)
            ids = [held[k] for k in pick] + [
                f"new{self.new_seq}_{t}" for t in range(self.upsert_new)]
            self.new_seq += 1
            topics = self.rng.integers(self.n_clusters, size=len(ids))
            vecs = (self.centers[topics] + 0.35 * self.rng.normal(size=(len(ids), self.dim))).astype(np.float32)
            docs = [f"upserted {self.new_seq} {u}" for u in ids]

            def call():
                before = dir_snapshot(self.root)
                with ctx.tracer.span("plans.chroma_api.upsert") as sp:
                    n = chroma_api.collection_upsert(
                        ctx.spark, self.root, "reviews", ids=ids,
                        embeddings=vecs.tolist(), documents=docs,
                        metadatas=[{"topic": int(t)} for t in topics],
                        index_paths=[self.index])
                    sp.count(bytes_written=bytes_new(before, dir_snapshot(self.root)))
                return n

            def check(n):
                expect(n == len(ids), f"upsert wrote {n} of {len(ids)}")
                with ctx.tracer.span("bench.check"):
                    got = {r["id"]: r["document"] for r in chroma_api.collection_get(
                        ctx.spark, self.root, "reviews", ids=ids).collect()}
                for u, d in zip(ids, docs):
                    expect(got.get(u) == d, f"upserted {u} reads back {got.get(u)!r}")
                for u, v, t in zip(ids, vecs, topics):
                    self.live[u] = (v, int(t))
                    self.dead.discard(u)

            return Op("upsert", len(ids), call, check)
        held = sorted(self.live)
        pick = self.rng.choice(len(held), size=self.delete_n, replace=False)
        ids = [held[k] for k in pick]

        def call():
            before = dir_snapshot(self.root)
            with ctx.tracer.span("plans.chroma_api.delete_indexed") as sp:
                n = chroma_api.collection_delete_indexed(
                    ctx.spark, self.root, "reviews", ids=ids,
                    index_paths=[self.index])
                sp.count(bytes_written=bytes_new(before, dir_snapshot(self.root)))
            return n

        def check(n):
            expect(n == len(ids), f"delete removed {n} of {len(ids)}")
            with ctx.tracer.span("bench.check"):
                back = chroma_api.collection_get(
                    ctx.spark, self.root, "reviews", ids=ids).collect()
            expect(not back, f"deleted ids still readable: {[r['id'] for r in back]}")
            for u in ids:
                self.live.pop(u)
                self.dead.add(u)

        return Op("delete", len(ids), call, check)


# --------------------------------------------------------- dedup_minhash


def shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram set, as the engine's ``word_shingles`` builds it for
    lowercase, single-spaced text."""
    t = text.split()
    if not t:
        return set()
    return {" ".join(t[i : i + n]) for i in range(max(1, len(t) - n + 1))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


class DedupMinhash:
    """``minhash_lsh_pairs`` over a corpus with planted near-duplicate
    pairs and one boilerplate cluster larger than the bucket cap.

    Dedup is a batch job: each job runs in a fresh session and pays
    the operator's first-call plan compilation, so a run times exactly
    one cold call and the warm-up is empty. 50k documents is the size
    from which the engine shingles with Arrow in Python workers (below
    it, shingling stays in the JVM), so both halves of the layer run."""

    docs, words, vocab, pairs, cluster = 50_000, 12, 50_000, 200, 320
    threshold, max_bucket = 0.5, 256
    cycle, max_ops = 1, 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.found: list[float] = []

    def build(self) -> None:
        ctx = self.ctx
        rng = np.random.default_rng(ctx.seed)
        toks = rng.integers(0, self.vocab, size=(self.docs, self.words))
        # planted pairs: doc b copies doc a with one or two positions
        # replaced, so the pairs' Jaccard spreads over ~0.3..0.8; only
        # those at or above the threshold count as planted
        m = rng.integers(1, 3, size=self.pairs)
        for p in range(self.pairs):
            a, b = 2 * p, 2 * p + 1
            toks[b] = toks[a]
            pos = rng.choice(self.words, size=m[p], replace=False)
            toks[b, pos] = rng.integers(0, self.vocab, size=m[p])
        # boilerplate: one template, one word changed per member
        base = 2 * self.pairs
        template = rng.integers(0, self.vocab, size=self.words)
        for c in range(self.cluster):
            toks[base + c] = template
            toks[base + c, rng.integers(self.words)] = rng.integers(self.vocab)
        text = [" ".join(f"t{v}" for v in row) for row in toks]
        self.text = {f"d{i:06d}": s for i, s in enumerate(text)}
        self._sh: dict[str, set] = {}
        planted = set()
        for p in range(self.pairs):
            a, b = f"d{2 * p:06d}", f"d{2 * p + 1:06d}"
            if jaccard(self.sh(a), self.sh(b)) >= self.threshold:
                planted.add((a, b))
        self.planted = planted
        self.dir = os.path.join(ctx.workdir, "dedup")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        path = os.path.join(self.dir, "docs.parquet")
        pq.write_table(pa.table({"doc_id": list(self.text), "body": text}), path,
                       row_group_size=self.docs // 8)
        self.df = ctx.spark.read.parquet(path)

    def warm(self) -> None:
        pass

    def sh(self, doc_id: str) -> set:
        if doc_id not in self._sh:
            self._sh[doc_id] = shingles(self.text[doc_id])
        return self._sh[doc_id]

    def op(self, i: int) -> Op:
        ctx = self.ctx

        held: dict = {}

        def call():
            with ctx.tracer.span("operators.dedup.minhash_lsh_pairs") as sp:
                held["span"] = sp
                rows = minhash_lsh_pairs(
                    self.df, id_col="doc_id", text_col="body",
                    threshold=self.threshold, max_bucket_size=self.max_bucket,
                ).collect()
                sp.count(pairs_out=len(rows))
            return rows

        def check(rows):
            got = set()
            for r in rows:
                a, b = sorted((r["id_a"], r["id_b"]))
                j = jaccard(self.sh(a), self.sh(b))
                expect(j >= self.threshold - 1e-4,
                       f"pair {a},{b} has Jaccard {j:.4f} < {self.threshold}")
                expect(abs(j - r["jaccard"]) <= 1e-4,
                       f"pair {a},{b} reports {r['jaccard']} for {j:.4f}")
                got.add((a, b))
            hit = len(got & self.planted)
            self.found.append(hit / len(self.planted))
            held["span"].count(planted_found=hit)

        return Op("dedup", self.docs, call, check)

    def quality(self) -> float:
        return float(np.mean(self.found))

    def extras(self) -> dict:
        return {"dedup_pair_recall": self.quality(),
                "planted_pairs": len(self.planted)}


WORKLOADS = {
    "ingest_wide": IngestWide,
    "serve_filtered": ServeFiltered,
    "mutate_mixed": MutateMixed,
    "dedup_minhash": DedupMinhash,
}
