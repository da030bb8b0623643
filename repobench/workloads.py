"""The four workloads. Each one generates its inputs from the seed, sets up
under its run directory, runs closed-loop cycles of calls into the package,
and checks every output after the timed region.

A *batch* is one call into a package function together with the action
that consumes its result; a *cycle* is the fixed sequence of batches that
makes one unit of the workload's work. Outputs are kept in memory during
the cycles and checked by ``check()`` against references computed here
(numpy, plain Python, or the registry's DuckDB oracles).
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import time
from itertools import combinations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gendata

K = 10  # top-k of every search path


def _normalize32(x: np.ndarray) -> np.ndarray:
    """What the package stores for a vector after l2_normalize + float cast."""
    x = np.asarray(x, dtype=np.float64)
    return (x / np.linalg.norm(x, axis=-1, keepdims=True)).astype(np.float32).astype(np.float64)


def _exact_topk(Qn: np.ndarray, Vn: np.ndarray, k: int) -> list[np.ndarray]:
    """Exact top-k ids per query by (score desc, id asc)."""
    S = np.round(Qn @ Vn.T, 6)
    ids = np.arange(Vn.shape[0])
    return [np.lexsort((ids, -row))[:k] for row in S]


def _probed(Qn: np.ndarray, centroids: np.ndarray, nprobe: int) -> np.ndarray:
    """The package's routing rule: nprobe largest dots, ties by centroid id."""
    return np.argsort(-(Qn @ centroids.T), axis=1, kind="stable")[:, :nprobe]


def _recall(found: dict, truth: list[np.ndarray]) -> tuple[int, int]:
    hits = sum(len(set(found.get(q, ())) & set(t.tolist())) for q, t in enumerate(truth))
    return hits, sum(len(t) for t in truth)


class Workload:
    """Shared plumbing: timed calls, recorded outputs, check bookkeeping."""

    setup_reps = 3

    def __init__(self, spark, tracer, run_dir: str, seed: int, tiny: bool):
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.seed = seed
        self.tiny = tiny
        self.batches: list[float] = []
        self.outputs: list[tuple[str, object]] = []
        self.quality: dict[str, list[int]] = {}
        self.problems: list[str] = []

    def call(self, name: str, fn, *args, action=None, **kwargs):
        """One batch: the call (a span named after the function) and the
        benchmark's action on what it returned, timed together."""
        t0 = time.perf_counter()
        with self.tracer.span(name) as h:
            res = fn(*args, **kwargs)
            h.returned()
            if action is not None:
                res = action(res)
        self.batches.append(time.perf_counter() - t0)
        return res

    def reset(self) -> None:
        """Forget what set-up and warm-up recorded."""
        self.batches.clear()
        self.outputs.clear()
        self.quality.clear()
        self.problems.clear()

    def add_quality(self, name: str, hits: int, total: int) -> None:
        q = self.quality.setdefault(name, [0, 0])
        q[0] += hits
        q[1] += total

    def expect(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok

    def check(self) -> tuple[int, int]:
        """(outputs checked, outputs that failed their check)."""
        failed = 0
        for kind, payload in self.outputs:
            before = len(self.problems)
            try:
                getattr(self, f"check_{kind.split('.')[0]}")(payload)
            except Exception as exc:  # a malformed output is a failed check
                self.problems.append(f"{kind}: {type(exc).__name__}: {exc}")
            failed += len(self.problems) > before
        return len(self.outputs), failed

    def perturb(self, kind: str) -> None:
        """Corrupt the first recorded output of ``kind`` (self-test only).
        A kind may carry a ``.suffix`` (e.g. one per registry query); the
        part before the dot names the check and perturb methods."""
        for i, (k, payload) in enumerate(self.outputs):
            if k == kind:
                self.outputs[i] = (k, getattr(self, f"perturb_{kind.split('.')[0]}")(payload))
                return
        raise KeyError(f"no output of kind {kind}")

    def perturbation_check(self) -> dict[str, int]:
        """Self-test: for each output kind, corrupt its first output and
        re-run every check; returns the failed count per kind."""
        outputs, problems, quality = self.outputs, self.problems, self.quality
        failed = {}
        for kind in dict.fromkeys(k for k, _ in outputs):
            self.outputs, self.problems, self.quality = list(outputs), [], {}
            self.perturb(kind)
            failed[kind] = self.check()[1]
        self.outputs, self.problems, self.quality = outputs, problems, quality
        return failed

    def recall(self) -> float:
        hits = sum(h for h, _ in self.quality.values())
        total = sum(t for _, t in self.quality.values())
        return hits / total if total else 0.0


def _query_frame(spark, Q: np.ndarray):
    return spark.createDataFrame(
        [(i, [float(x) for x in q]) for i, q in enumerate(Q)],
        "query_id LONG, query_vec ARRAY<FLOAT>",
    )


def _bump_first(df: pd.DataFrame, col: str, by) -> pd.DataFrame:
    df = df.copy()
    df.loc[df.index[0], col] = df[col].iloc[0] + by
    return df


# ---------------------------------------------------------------------------
# index_build: the write path — IVF build, PQ training, PQ encoding
# ---------------------------------------------------------------------------


class IndexBuild(Workload):
    n_clusters = 32
    pq_m, pq_k = 16, 32
    nprobe = 4

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n = 800 if self.tiny else 8000
        if self.tiny:
            self.n_clusters = 8

    def setup(self, rep: int) -> None:
        from vectordbfaiss_spark.session import load_table

        d = os.path.join(self.run_dir, "data", f"setup{rep}")
        gendata.write_tables(d, self.seed, 0, self.n)
        self.emb = load_table(self.spark, d, "embeddings")
        self.emb.count()
        self.X, _ = gendata.vectors(self.n, self.seed)

    def cycle(self, i: int) -> int:
        from vectordbfaiss_spark.plans.ivf import build_ivf_index
        from vectordbfaiss_spark.plans.pq import pq_encode, train_pq_codebooks

        out = os.path.join(self.run_dir, "build", f"c{i}")
        ivf_path, pq_path = f"{out}/ivf", f"{out}/ivfpq"
        cents = self.call(
            "plans.ivf.build_ivf_index", build_ivf_index, self.emb, ivf_path,
            n_clusters=self.n_clusters, seed=self.seed, corpus_key=None,
        )
        books = self.call(
            "plans.pq.train_pq_codebooks", train_pq_codebooks, self.emb,
            m=self.pq_m, k_codes=self.pq_k, seed=self.seed,
        )
        self.call(
            "plans.pq.pq_encode", pq_encode, self.spark.read.parquet(ivf_path), books,
            action=lambda df: df.write.parquet(pq_path),
        )
        self.outputs += [
            ("ivf", (ivf_path, np.asarray(cents))),
            ("books", np.array(books)),
            ("ivfpq", (pq_path, np.array(books), np.asarray(cents))),
        ]
        return self.n

    def check_ivf(self, payload) -> None:
        path, cents = payload
        t = pq.read_table(path).to_pandas().sort_values("vec_id")
        self.expect(cents.shape == (self.n_clusters, gendata.DIM), "ivf: centroid shape")
        self.expect(t["vec_id"].tolist() == list(range(self.n)), "ivf: vec_id set")
        V = np.stack(t["embedding"].to_numpy()).astype(np.float64)
        self.expect(np.allclose(V, _normalize32(self.X), atol=1e-7), "ivf: stored vectors")
        S = V @ cents.T
        got = S[np.arange(len(S)), t["cluster_id"].astype(int).to_numpy()]
        self.expect(bool((got >= S.max(1) - 1e-9).all()), "ivf: nearest-centroid assignment")

    def check_books(self, books) -> None:
        sub = gendata.DIM // self.pq_m
        self.expect(books.shape == (self.pq_m, self.pq_k, sub), "books: shape")
        self.expect(bool(np.isfinite(books).all()), "books: finite")
        # every codeword is a mean of training points, so it lies inside
        # the unit ball of its subspace
        self.expect(bool((np.linalg.norm(books, axis=2) <= 1 + 1e-9).all()), "books: norm")

    def check_ivfpq(self, payload) -> None:
        path, books, cents = payload
        t = pq.read_table(path).to_pandas().sort_values("vec_id")
        self.expect(t["vec_id"].tolist() == list(range(self.n)), "ivfpq: vec_id set")
        codes = np.stack(t["codes"].to_numpy()).astype(int)
        Vn = _normalize32(self.X)
        sub = gendata.DIM // self.pq_m
        ok = codes.shape == (self.n, self.pq_m)
        for s in range(self.pq_m):
            Vs = Vn[:, s * sub : (s + 1) * sub]
            d = -2.0 * (Vs @ books[s].T) + (books[s] ** 2).sum(1)
            picked = d[np.arange(self.n), codes[:, s]]
            ok = ok and bool((picked <= d.min(1) + 1e-9).all())
        self.expect(ok, "ivfpq: codes are the nearest codewords")
        # build quality: recall@10 of IVF and IVF-PQ search over this build
        # on a probe batch (both search rules reproduced in numpy)
        Qn = _normalize32(gendata.query_batch(self.X, 32, self.seed, 0))
        truth = _exact_topk(Qn, Vn, K)
        probes = _probed(Qn, cents, self.nprobe)
        cid = t["cluster_id"].astype(int).to_numpy()
        ivf_found, pq_found = {}, {}
        for q in range(len(Qn)):
            cand = np.flatnonzero(np.isin(cid, probes[q]))
            exact = np.round(Vn[cand] @ Qn[q], 6)
            ivf_found[q] = cand[np.lexsort((cand, -exact))[:K]].tolist()
            lut = np.stack([Qn[q, s * sub : (s + 1) * sub] @ books[s].T for s in range(self.pq_m)])
            adc = np.round(lut[np.arange(self.pq_m), codes[cand]].sum(1), 6)
            pq_found[q] = cand[np.lexsort((cand, -adc))[:K]].tolist()
        self.add_quality("ivf_recall_at_10", *_recall(ivf_found, truth))
        self.add_quality("ivfpq_recall_at_10", *_recall(pq_found, truth))

    def perturb_ivf(self, payload):
        path, cents = payload
        return path, cents[::-1].copy()  # centroid ids no longer match cells

    def perturb_books(self, books):
        books = books.copy()
        books[0, 0, 0] = np.nan
        return books

    def perturb_ivfpq(self, payload):
        path, books, cents = payload
        books = books.copy()
        books[0] = books[0][::-1]  # codes now point at other codewords
        return path, books, cents


# ---------------------------------------------------------------------------
# search_serve: the read path over artifacts published once in set-up
# ---------------------------------------------------------------------------


class SearchServe(Workload):
    setup_reps = 1
    n_clusters = 16
    nprobe = 4
    pq_m, pq_k = 16, 32
    knn_k = 16

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n = 600 if self.tiny else 4000
        self.q = 8 if self.tiny else 16

    def setup(self, rep: int) -> None:
        from vectordbfaiss_spark.operators.graph_ann import graph_serve_knobs
        from vectordbfaiss_spark.plans.ivf import build_ivf_index, corpus_fingerprint
        from vectordbfaiss_spark.plans.pq import pq_encode, train_pq_codebooks
        from vectordbfaiss_spark.plans.sql_router import register_ivf_table
        from vectordbfaiss_spark.queries.embedding_analysis import knn_edges_published
        from vectordbfaiss_spark.session import load_table

        spark = self.spark
        d = os.path.join(self.run_dir, "data", f"setup{rep}")
        gendata.write_tables(d, self.seed, 0, self.n)
        self.emb_path = f"{d}/embeddings.parquet"
        self.ivf_path, self.pq_path, self.edges_path = f"{d}/ivf", f"{d}/ivfpq", f"{d}/edges"
        emb = load_table(spark, d, "embeddings")
        # the index build, one span per call (kept in traced runs)
        self.cents = self.call(
            "plans.ivf.build_ivf_index", build_ivf_index, emb, self.ivf_path,
            n_clusters=self.n_clusters, seed=self.seed,
            corpus_key=corpus_fingerprint(self.emb_path),
        )
        self.books = self.call(
            "plans.pq.train_pq_codebooks", train_pq_codebooks, emb,
            m=self.pq_m, k_codes=self.pq_k, seed=self.seed,
        )
        self.call(
            "plans.pq.pq_encode", pq_encode, spark.read.parquet(self.ivf_path), self.books,
            action=lambda df: df.write.parquet(self.pq_path),
        )
        self.call(
            "queries.embedding_analysis.knn_edges_published", knn_edges_published,
            spark, d, k=self.knn_k, out_path=self.edges_path,
        )
        register_ivf_table("bench_ivf", self.ivf_path, self.cents)
        self.beam, self.rounds = graph_serve_knobs(self.n)
        self.X, _ = gendata.vectors(self.n, self.seed)
        self.Vn = _normalize32(self.X)
        self.C = np.asarray(self.cents, dtype=np.float64)
        self.emb = spark.read.parquet(self.emb_path)
        self.ivf = spark.read.parquet(self.ivf_path)
        self.ivfpq = spark.read.parquet(self.pq_path)
        self.edges = spark.read.parquet(self.edges_path).select("src", "dst")
        # the published layout, read back for the checks
        codes = pq.read_table(self.pq_path, columns=["vec_id", "codes"]).to_pandas()
        self.codes = np.stack(codes.sort_values("vec_id")["codes"].to_numpy()).astype(int)
        cells = pq.read_table(self.ivf_path, columns=["vec_id", "cluster_id"]).to_pandas()
        self.cid = cells.sort_values("vec_id")["cluster_id"].to_numpy().astype(int)

    def cycle(self, i: int) -> int:
        from vectordbfaiss_spark.operators.graph_ann import graph_beam_search_interactive
        from vectordbfaiss_spark.operators.topk import score_topk_vectorized
        from vectordbfaiss_spark.plans.ivf import ivf_search
        from vectordbfaiss_spark.plans.pq import ivfpq_search
        from vectordbfaiss_spark.plans.sql_router import route_topk_sql

        Q = gendata.query_batch(self.X, self.q, self.seed, i)
        qdf = _query_frame(self.spark, Q)
        to_pd = lambda df: df.toPandas()  # noqa: E731
        ivf = self.call(
            "plans.ivf.ivf_search", ivf_search, self.ivf, qdf, self.cents,
            k=K, nprobe=self.nprobe, action=to_pd,
        )
        ivfpq = self.call(
            "plans.pq.ivfpq_search", ivfpq_search, self.ivfpq, qdf, self.cents, self.books,
            k=K, nprobe=self.nprobe, action=to_pd,
        )
        graph = self.call(
            "operators.graph_ann.graph_beam_search_interactive",
            graph_beam_search_interactive, qdf, self.edges, self.emb,
            beam=self.beam, rounds=self.rounds, n_entries=max(16, self.n // 32),
            emb_path=self.emb_path, edges_path=self.edges_path, action=to_pd,
        )
        exact = self.call(
            "operators.topk.score_topk_vectorized", score_topk_vectorized, qdf, self.emb,
            k=K, action=to_pd,
        )
        lits = ", ".join(repr(float(x)) for x in Q[0])
        sql = (
            "SELECT vec_id FROM bench_ivf ORDER BY "
            f"cosine_similarity(embedding, array({lits})) DESC LIMIT {K}"
        )
        routed = self.call(
            "plans.sql_router.route_topk_sql", route_topk_sql, self.spark, sql,
            nprobe=self.nprobe, action=to_pd,
        )
        self.outputs += [
            ("ivf", (Q, ivf)),
            ("ivfpq", (Q, ivfpq)),
            ("graph", (Q, graph)),
            ("exact", (Q, exact)),
            ("sql", (Q[:1], routed)),
        ]
        return 4 * self.q + 1

    def _ivf_reference(self, Qn):
        """Per query: (ids in the probed cells, their rounded scores)."""
        probes = _probed(Qn, self.C, self.nprobe)
        out = []
        for q in range(len(Qn)):
            cand = np.flatnonzero(np.isin(self.cid, probes[q]))
            out.append((cand, np.round(self.Vn[cand] @ Qn[q], 6)))
        return out

    def _per_query(self, df, score_col="score"):
        got = {}
        for qid, g in df.groupby("query_id"):
            g = g.sort_values([score_col, "vec_id"], ascending=[False, True])
            got[int(qid)] = (g["vec_id"].to_numpy(), g[score_col].to_numpy())
        return got

    def _same_topk(self, what, got_ids, got_s, cand, scores) -> None:
        """The reported rows must be the top-k of (cand, scores) by (score
        desc, id asc), each with its own reference score; an id outside
        the reference top-k is allowed only on a tie at the k-th score."""
        order = np.lexsort((cand, -scores))[:K]
        ref_s = scores[order]
        of = dict(zip(cand.tolist(), scores.tolist()))
        ok = len(got_ids) == len(order) and np.allclose(got_s, ref_s, atol=2e-6)
        ok = ok and all(
            abs(of.get(int(i), np.inf) - s) <= 2e-6 for i, s in zip(got_ids, got_s)
        )
        extra = {int(i) for i in got_ids} - set(cand[order].tolist())
        ok = ok and all(abs(of[i] - ref_s[-1]) <= 2e-6 for i in extra)
        self.expect(ok, what)

    def check_ivf(self, payload) -> None:
        Q, df = payload
        Qn = _normalize32(Q)
        got = self._per_query(df)
        self.expect(sorted(got) == list(range(len(Q))), "ivf: every query answered")
        found = {}
        for q, (cand, s) in enumerate(self._ivf_reference(Qn)):
            gi, gs = got.get(q, (np.array([]), np.array([])))
            self._same_topk(f"ivf: query {q}", gi, gs, cand, s)
            found[q] = gi.tolist()
        self.add_quality("ivf_recall_at_10", *_recall(found, _exact_topk(Qn, self.Vn, K)))

    def check_ivfpq(self, payload) -> None:
        Q, df = payload
        Qn = _normalize32(Q)
        got = self._per_query(df, "approx_score")
        self.expect(sorted(got) == list(range(len(Q))), "ivfpq: every query answered")
        sub = gendata.DIM // self.pq_m
        probes = _probed(Qn, self.C, self.nprobe)
        found = {}
        for q in range(len(Qn)):
            cand = np.flatnonzero(np.isin(self.cid, probes[q]))
            lut = np.stack([Qn[q, s * sub : (s + 1) * sub] @ self.books[s].T for s in range(self.pq_m)])
            adc = np.round(lut[np.arange(self.pq_m), self.codes[cand]].sum(1), 6)
            gi, gs = got.get(q, (np.array([]), np.array([])))
            self._same_topk(f"ivfpq: query {q}", gi, gs, cand, adc)
            found[q] = gi.tolist()
        self.add_quality("ivfpq_recall_at_10", *_recall(found, _exact_topk(Qn, self.Vn, K)))

    def check_graph(self, payload) -> None:
        Q, df = payload
        Qn = np.asarray(Q, np.float64)
        Qn = Qn / np.linalg.norm(Qn, axis=1, keepdims=True)
        Xn = self.X.astype(np.float64)
        Xn = Xn / np.linalg.norm(Xn, axis=1, keepdims=True)
        ids = df["vec_id"].to_numpy().astype(int)
        qs = df["query_id"].to_numpy().astype(int)
        self.expect(bool(((ids >= 0) & (ids < self.n)).all()), "graph: vec_id range")
        true_s = np.round((Xn[ids] * Qn[qs]).sum(1), 6)
        self.expect(bool(np.allclose(true_s, df["score"].to_numpy(), atol=2e-6)), "graph: scores")
        self.expect(not df.duplicated(["query_id", "vec_id"]).any(), "graph: duplicate visits")
        found = {q: i[:K].tolist() for q, (i, _) in self._per_query(df).items()}
        self.expect(sorted(found) == list(range(len(Q))), "graph: every query answered")
        self.add_quality("graph_recall_at_10", *_recall(found, _exact_topk(Qn, Xn, K)))

    def check_exact(self, payload) -> None:
        Q, df = payload
        Qn = np.asarray(Q, np.float64)
        Qn = Qn / np.linalg.norm(Qn, axis=1, keepdims=True)
        Xn = self.X.astype(np.float64)
        Xn = Xn / np.linalg.norm(Xn, axis=1, keepdims=True)
        got = self._per_query(df)
        self.expect(sorted(got) == list(range(len(Q))), "exact: every query answered")
        S = np.round(Qn @ Xn.T, 6)
        ids = np.arange(self.n)
        for q in range(len(Q)):
            gi, gs = got.get(q, (np.array([]), np.array([])))
            self._same_topk(f"exact: query {q}", gi, gs, ids, S[q])

    def check_sql(self, payload) -> None:
        Q, df = payload
        self.expect(list(df.columns) == ["vec_id", "score"], "sql: columns")
        (cand, s), = self._ivf_reference(_normalize32(Q))
        self._same_topk("sql: routed top-k", df["vec_id"].to_numpy(), df["score"].to_numpy(), cand, s)

    def perturb_ivf(self, payload):
        Q, df = payload
        return Q, _bump_first(df, "score", 0.01)

    def perturb_ivfpq(self, payload):
        Q, df = payload
        return Q, df.iloc[1:]

    def perturb_graph(self, payload):
        Q, df = payload
        return Q, _bump_first(df, "score", -0.01)

    def perturb_exact(self, payload):
        Q, df = payload
        return Q, _bump_first(df, "vec_id", 1)

    def perturb_sql(self, payload):
        Q, df = payload
        return Q, df.iloc[:-1]


# ---------------------------------------------------------------------------
# dedup_pipeline: batched ingest into a growing store, then four dedup scans
# ---------------------------------------------------------------------------


def _shingles(text: str, n: int = 3) -> frozenset:
    w = text.rstrip().split()
    if len(w) < n:
        return frozenset([" ".join(w)])
    return frozenset(" ".join(w[i : i + n]) for i in range(len(w) - n + 1))


def _simhash(text: str, bits: int = 32) -> int:
    """The package's SimHash: md5-hex bits of each distinct token, +1/-1."""
    sums = np.zeros(bits, dtype=np.int64)
    for tok in set(text.rstrip().split()):
        h = hashlib.md5(tok.encode()).hexdigest()
        for p in range(bits):
            sums[p] += 2 * ((int(h[p // 4], 16) >> (p % 4)) & 1) - 1
    return int(sum(1 << p for p in range(bits) if sums[p] > 0))


def _exact_jaccard_pairs(sh: dict, threshold_num=3, threshold_den=5) -> dict:
    """All pairs (a < b) with |A∩B| / |A∪B| >= 3/5, via a shingle index."""
    by_sh: dict[str, list] = {}
    for d, s in sh.items():
        for g in s:
            by_sh.setdefault(g, []).append(d)
    inter: dict[tuple, int] = {}
    for docs in by_sh.values():
        for a, b in combinations(sorted(docs), 2):
            inter[(a, b)] = inter.get((a, b), 0) + 1
    out = {}
    for (a, b), c in inter.items():
        union = len(sh[a]) + len(sh[b]) - c
        if threshold_den * c >= threshold_num * union:
            out[(a, b)] = round(c / union, 6)
    return out


class DedupPipeline(Workload):
    n_batches = 3
    semdedup_clusters = 8
    semdedup_tau = 0.9
    minhash_threshold = 0.4

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.batch_docs = 80 if self.tiny else 300

    def _cycle_docs(self, i: int):
        """Seeded batches for cycle i; each batch repeats a tenth of the
        previous one, so cross-batch dedup has work to do."""
        n = self.n_batches * self.batch_docs
        texts, truth = gendata.document_texts(n, self.seed, stream=100 + i)
        batches, prev = [], []
        for b in range(self.n_batches):
            own = texts[b * self.batch_docs : (b + 1) * self.batch_docs]
            batches.append(own + prev[: self.batch_docs // 10])
            prev = own
        return texts, truth, batches

    def setup(self, rep: int) -> None:
        # inputs are generated per cycle; set-up only lays out the store root
        self.store_root = os.path.join(self.run_dir, "store")
        os.makedirs(self.store_root, exist_ok=True)

    def _chunks(self, batch):
        rows = [(f"doc{j}", 0, f"doc{j}_chunk_1", t) for j, t in enumerate(batch)]
        return self.spark.createDataFrame(
            rows, "stem STRING, chunk_idx INT, chunk_name STRING, content STRING"
        )

    def cycle(self, i: int) -> int:
        from vectordbfaiss_spark.operators.dedup import (
            exploded_shingles,
            minhash_lsh_pairs,
            simhash_pairs,
        )
        from vectordbfaiss_spark.operators.semdedup import semdedup
        from vectordbfaiss_spark.operators.setsim import prefix_filter_jaccard_pairs
        from vectordbfaiss_spark.sources.ingest import embed_chunks, write_dedup_append

        spark = self.spark
        store = os.path.join(self.store_root, f"c{i}")
        texts, truth, batches = self._cycle_docs(i)
        written = []
        for batch in batches:
            emb = self.call("sources.ingest.embed_chunks", embed_chunks, self._chunks(batch))
            written.append(
                self.call(
                    "sources.ingest.write_dedup_append", write_dedup_append, emb, store, spark,
                    action=lambda df: df.count(),
                )
            )
        docs = spark.read.parquet(store)
        to_pd = lambda df: df.toPandas()  # noqa: E731
        mh = self.call(
            "operators.dedup.minhash_lsh_pairs", minhash_lsh_pairs, docs, "doc_id", "content",
            threshold=self.minhash_threshold, action=to_pd,
        )
        sh = self.call(
            "operators.dedup.simhash_pairs", simhash_pairs, docs, "doc_id", "content",
            max_hamming=1, action=to_pd,
        )
        ss = self.call(
            "operators.setsim.prefix_filter_jaccard_pairs", prefix_filter_jaccard_pairs,
            exploded_shingles(docs, "doc_id", "content", n=3), "doc_id", "shingle",
            action=to_pd,
        )
        sd = self.call(
            "operators.semdedup.semdedup", semdedup, docs.select("doc_id", "embedding"),
            id_col="doc_id", vec_col="embedding", n_clusters=self.semdedup_clusters,
            threshold=self.semdedup_tau, seed=self.seed, corpus_key=None,
            # through Arrow: a nullable bigint must not pass through float64
            action=lambda df: df.toArrow().to_pandas(integer_object_nulls=True),
        )
        store_pd = pq.read_table(store, columns=["doc_id", "content", "embedding"]).to_pandas()
        ctx = {"texts": texts, "truth": truth, "batches": batches, "store": store_pd}
        self.outputs += [
            ("store", (ctx, written)),
            ("minhash", (ctx, mh)),
            ("simhash", (ctx, sh)),
            ("setsim", (ctx, ss)),
            ("semdedup", (ctx, sd)),
        ]
        return sum(len(b) for b in batches)

    def check_store(self, payload) -> None:
        ctx, written = payload
        st = ctx["store"]
        seen, expected = set(), []
        for batch in ctx["batches"]:
            new = {t for t in batch if t not in seen}
            expected.append(len(new))
            seen |= new
        self.expect(written == expected, f"store: rows written per batch {written} != {expected}")
        self.expect(set(st["content"]) == seen and len(st) == len(seen), "store: content set")
        self.expect(st["doc_id"].is_unique, "store: doc_id unique")
        self.expect(
            bool((st["embedding"].map(len) == 64).all()), "store: embedding width"
        )

    def _ids(self, ctx):
        return dict(zip(ctx["store"]["content"], ctx["store"]["doc_id"]))

    @staticmethod
    def _pairs(df) -> dict:
        return {
            (int(a), int(b)): float(j)
            for a, b, j in zip(df["id_a"], df["id_b"], df["jaccard"])
        }

    def _exact(self, ctx) -> dict:
        if "exact" not in ctx:
            sh = {int(i): _shingles(t) for i, t in zip(ctx["store"]["doc_id"], ctx["store"]["content"])}
            ctx["shingles"] = sh
            ctx["exact"] = _exact_jaccard_pairs(sh)
        return ctx["exact"]

    def check_setsim(self, payload) -> None:
        ctx, df = payload
        got, ref = self._pairs(df), self._exact(ctx)
        self.expect(set(got) == set(ref), f"setsim: {len(got)} pairs vs {len(ref)} exact")
        self.expect(all(abs(got[p] - ref[p]) <= 1e-6 for p in set(got) & set(ref)), "setsim: jaccard")

    def check_minhash(self, payload) -> None:
        ctx, df = payload
        self._exact(ctx)
        sh = ctx["shingles"]
        got = self._pairs(df)
        ok = all(a < b for a, b in got)
        for (a, b), j in got.items():
            c = len(sh[a] & sh[b])
            true_j = round(c / (len(sh[a]) + len(sh[b]) - c), 6)
            ok = ok and abs(true_j - j) <= 1e-6 and j >= self.minhash_threshold
        self.expect(ok, "minhash: pairs carry their exact jaccard above the threshold")
        # near-dup recall: injected (base, partner) pairs that survived
        # ingest as two distinct documents
        ids = self._ids(ctx)
        texts = ctx["texts"]
        want = {
            tuple(sorted((int(ids[texts[a]]), int(ids[texts[b]]))))
            for a, b in ctx["truth"]
            if texts[a] in ids and texts[b] in ids and texts[a] != texts[b]
        }
        self.add_quality("neardup_recall", len(want & set(got)), len(want))

    def check_simhash(self, payload) -> None:
        ctx, df = payload
        st = ctx["store"]
        ids = st["doc_id"].to_numpy().astype(np.int64)
        sig = np.array([_simhash(t) for t in st["content"]], dtype=np.int64)
        x = sig[:, None] ^ sig[None, :]
        ham = np.zeros_like(x)
        for p in range(32):
            ham += (x >> p) & 1
        ia, ib = np.nonzero(np.triu(ham <= 1, 1))
        ref = {tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in zip(ia, ib)}
        got = {(int(a), int(b)) for a, b in zip(df["id_a"], df["id_b"])}
        self.expect(got == ref, f"simhash: {len(got)} pairs vs {len(ref)} exact")

    def check_semdedup(self, payload) -> None:
        ctx, df = payload
        st = ctx["store"].set_index("doc_id")
        self.expect(set(df["doc_id"]) == set(st.index) and len(df) == len(st), "semdedup: ids")
        tau = self.semdedup_tau
        ok = True
        for _, g in df.groupby("cluster_id"):
            g = g.sort_values("doc_id")
            V = _normalize32(np.stack(st.loc[g["doc_id"], "embedding"].to_numpy()))
            S = np.triu(V @ V.T, 1)  # S[i, j], i < j: smaller id first
            lo = ((S > tau + 1e-5) & (S != 0)).sum(0)
            hi = ((S > tau - 1e-5) & (S != 0)).sum(0)
            n = g["n_dup_smaller"].to_numpy()
            ok = ok and bool(((n >= lo) & (n <= hi)).all())
            ok = ok and bool((g["keep"].to_numpy() == (n == 0)).all())
        w = df[df["witness_id"].notna()]
        if len(w):
            a = _normalize32(np.stack(st.loc[w["doc_id"], "embedding"].to_numpy()))
            b = _normalize32(np.stack(st.loc[w["witness_id"].astype(np.int64), "embedding"].to_numpy()))
            ok = ok and bool(np.allclose((a * b).sum(1), w["max_sim_smaller"], atol=1e-5))
        self.expect(ok, "semdedup: verdicts match the per-cluster similarity counts")

    def perturb_store(self, payload):
        ctx, written = payload
        return ctx, [written[0] + 1] + written[1:]

    def perturb_minhash(self, payload):
        ctx, df = payload
        return ctx, _bump_first(df, "jaccard", 0.05)

    def perturb_simhash(self, payload):
        ctx, df = payload
        return ctx, df.iloc[1:]

    def perturb_setsim(self, payload):
        ctx, df = payload
        return ctx, _bump_first(df, "jaccard", -0.05)

    def perturb_semdedup(self, payload):
        ctx, df = payload
        df = df.copy()
        df["keep"] = ~df["keep"]
        return ctx, df


# ---------------------------------------------------------------------------
# registry_heavy: scheduler-bound registry queries against DuckDB oracles
# ---------------------------------------------------------------------------

# Registry queries that write nothing outside the run's own directories
# (queries that publish under a hardcoded warehouse path are left out).
REGISTRY_QUERIES = (
    "minhash_quality_audit",
    "pq_recall_bound",
    "ingest_index_build",  # the sources layer: ingests the committed fixture docs
)


def _load_compare():
    root = os.environ.get("REPOBENCH_CHECKOUT", os.getcwd())
    spec = importlib.util.spec_from_file_location(
        "oracle_sweep", os.path.join(root, "tools", "oracle_sweep.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class RegistryHeavy(Workload):
    setup_reps = 3

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n = 200 if self.tiny else 300

    def setup(self, rep: int) -> None:
        from vectordbfaiss_spark import registry

        self.sf_dir = os.path.join(self.run_dir, "data", f"setup{rep}")
        gendata.write_tables(self.sf_dir, self.seed, self.n, self.n)
        self.fns = registry.queries()

    def cycle(self, i: int) -> int:
        for name in REGISTRY_QUERIES:
            df = self.call(
                f"queries.{name}", self.fns[name], self.spark, self.sf_dir,
                action=lambda d: d.toPandas(),
            )
            self.outputs.append((f"query.{name}", (name, df)))
        return len(REGISTRY_QUERIES)

    def check(self):
        import duckdb

        from vectordbfaiss_spark import registry

        self.compare = _load_compare()
        sql = registry.oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.oracle = {name: con.sql(sql[name]).df() for name in REGISTRY_QUERIES}
        con.close()
        return super().check()

    def check_query(self, payload) -> None:
        name, df = payload
        ok, why = self.compare(df, self.oracle[name])
        self.expect(ok, f"{name}: {why}")
        if ok and name == "minhash_quality_audit":
            row = df.iloc[0]
            self.add_quality("minhash_audit_recall", int(row["n_detected"]), int(row["n_exact"]))

    def perturb_query(self, payload):
        name, df = payload
        return name, df.iloc[:-1]


WORKLOADS = {
    "index_build": IndexBuild,
    "search_serve": SearchServe,
    "dedup_pipeline": DedupPipeline,
    "registry_heavy": RegistryHeavy,
}
