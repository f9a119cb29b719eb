"""Embedding similarity search.

- ``cosine_topk_bruteforce`` / ``hard_negative_topk``: exact top-k for a
  bounded query set — O(|queries| x |corpus|), the correctness baseline.
- ``hyperplane_lsh_topk``: random-hyperplane LSH (sign-bit bucketing,
  optional multi-probe) so each query only scores its bucket; pure JVM
  higher-order array expressions, no UDF.
- The ANN family — three code tables (float, SQ8, PQ) with an optional
  IVF coarse stage — in two forms each: the in-memory flat scan
  (``ivf_topk``, ``pq_topk``, ``sq8_topk``) and the materialized index
  (``*_build_index`` + ``*_search``). All nine entry points share ONE
  scan kernel (:func:`_topk_scorer`), one code table per family
  (:class:`_FloatCode`, :class:`_SQ8Code`, :class:`_PQCode`), one
  coarse stage (:class:`_Coarse`), one build (:func:`_build_index`) and
  one search (:func:`_search`), so a physical search equals its flat
  twin by construction.

Every ordering key is rounded half-away-from-zero before compare
(:func:`_nround`, the ``dround`` twin) and ties break by id, so results
are reproducible across engines and partition layouts. At 100 TB the
corpus stays partitioned; only the bounded query set is collected.
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.money import dround
from ..operators.windows import top_k_per_group


def _dot(a: Column, b: Column) -> Column:
    # double-precision left-to-right fold; deterministic given the arrays
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    # clamped so zero vectors score 0, not NaN (0/eps = 0)
    return F.greatest(F.sqrt(_dot(a, a)), F.lit(1e-12))


def _dround_once(c: Column, scale: int = 8) -> Column:
    """``dround`` with its argument evaluated ONCE: binds ``c`` as a
    transform lambda variable. dround's sign() and abs() branches
    otherwise inline the child twice, and higher-order functions are
    CodegenFallback where per-expression CSE does not apply — for a
    fold-heavy child (``_dot``/``_norm``) that doubles the row cost.
    Same IEEE op sequence, bit-identical values."""
    rf = float(10**scale)
    return F.element_at(
        F.transform(
            F.array(c),
            lambda x: F.signum(x) * F.floor(F.abs(x) * F.lit(rf) + F.lit(0.5)) / F.lit(rf),
        ),
        1,
    )


def _nround(t, scale: int = 8):
    """numpy twin of functions.money.dround (half-away-from-zero via
    sign/abs/floor — bit-identical in any engine evaluating the same
    double; ``np.round`` is half-to-even and can disagree with the
    oracle on .5 ties). Every ANN ordering key — cos_sim, ADC, the IVF
    assignment/probe argmax, the PQ encode argmin and the LSH sign bit
    — rounds through this before compare, so oracle determinism never
    rides on bit-identical unrounded accumulation (BLAS vs DuckDB
    list_dot_product can differ by an ulp on near-ties)."""
    f = float(10**scale)
    return np.sign(t) * np.floor(np.abs(t) * f + 0.5) / f


def _np_unit(m):
    """Unit rows of a (rows, dim) float64 matrix; zero rows clamp like
    ``_norm`` (0/eps = 0)."""
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def _np_unit_rounded(m):
    """The 8dp-rounded unit vectors of a (rows, dim) float64 matrix,
    accumulating the norm STRICTLY left-to-right via ``np.cumsum`` —
    the exact IEEE op sequence of both the JVM ``F.aggregate`` fold
    (`_dot`) and DuckDB's ``list_dot_product``, so every downstream
    SQ8 code is bit-identical across engines (a plain ``.sum()`` would
    pairwise-accumulate and could differ by an ulp on the 8dp
    boundary; equality with the JVM fold is pinned in tests). Zero
    vectors clamp like ``_norm``."""
    n2 = np.cumsum(m * m, axis=1)[:, -1]
    norm = np.maximum(np.sqrt(n2), 1e-12)
    return _nround(m / norm[:, None])


def _local_sidecar_path(path: str) -> str:
    """Enforce the index-path sidecar contract: the pyarrow sidecar
    fast path does driver-local POSIX I/O, while the data files
    (codes/lists) in the SAME ``index_path`` go through Spark's Hadoop
    FS layer. A non-local ``index_path`` (``hdfs://``, ``s3a:/``, a
    ``file://`` URI naming another host, ...) would silently split the
    index across storage systems — fail fast with the contract
    instead. Local ``file:`` URIs (``file:/p``, ``file:///p``,
    ``file://localhost/p``) resolve to the POSIX path ``/p`` so both
    layers see the same files."""
    import re

    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]+):(/.*)$", path)
    if m is None:
        return path
    scheme, rest = m.groups()
    if scheme == "file":
        if not rest.startswith("//"):
            return rest
        host, _, tail = rest[2:].partition("/")
        if host in ("", "localhost"):
            return "/" + tail.lstrip("/")
    raise ValueError(
        f"index sidecars use driver-local pyarrow I/O, but index_path "
        f"{path!r} is not a local path: build the index on a "
        "driver-local path (or mount), then publish it to the remote "
        "filesystem as a unit — a remote index_path would silently "
        "write sidecars locally while the codes go to the remote FS"
    )


def _sidecar_write(path: str, columns: dict, schema) -> None:
    """Write a TINY index sidecar (centroids / minmax / codebooks —
    metadata-sized, driver-resident by construction) as one parquet
    file directly with pyarrow: no Spark job or commit protocol for
    tables the driver already holds. Same overwrite semantics as the
    Spark writer (the directory is replaced); the file is plain
    parquet, readable by ``spark.read.parquet`` or any engine.
    Driver-local paths only (:func:`_local_sidecar_path`)."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _local_sidecar_path(path)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(columns, schema=schema), f"{path}/part-00000.parquet")


def _sidecar_rows(path: str) -> list[dict]:
    """Read a sidecar directory back as a list of dict rows via
    pyarrow — the driver-side twin of ``spark.read.parquet(...).
    collect()`` for metadata-sized tables (no Spark job). Reads every
    ``*.parquet`` part file, so sidecars written by either the pyarrow
    or the Spark writer load identically."""
    import glob as _glob

    import pyarrow.parquet as pq

    parts = sorted(_glob.glob(f"{_local_sidecar_path(path)}/*.parquet"))
    if not parts:
        raise FileNotFoundError(f"no parquet sidecar files under {path!r}")
    rows: list[dict] = []
    for p in parts:
        rows.extend(pq.read_table(p).to_pylist())
    return rows


def _bounded_query_rows(
    embeddings, id_col, vec_col, query_filter, max_queries, op_name,
    extra_cols=(),
):
    """Collect the query set with an explicit bound — an unbounded
    ``collect()`` of the whole corpus is a driver OOM at scale, so it is
    a usage error, not a silent default."""
    q = embeddings.select(
        F.col(id_col), F.col(vec_col), *[F.col(c) for c in extra_cols]
    )
    if query_filter is not None:
        q = q.filter(query_filter)
    elif max_queries is None:
        raise ValueError(
            f"{op_name}: pass query_filter to bound the query set, or set "
            "max_queries explicitly — collecting the full corpus as queries "
            "is O(N x N) and a driver OOM at scale"
        )
    if max_queries is not None:
        rows = q.limit(max_queries + 1).collect()
        if len(rows) > max_queries:
            raise ValueError(
                f"{op_name}: query set exceeds max_queries={max_queries}; "
                "tighten the query set or raise the cap deliberately"
            )
        return rows
    return q.collect()


_TOPK_SCHEMA = "vec_id bigint, rank int, neighbor_id bigint, cos_sim double"


def _empty_topk(spark, labels: bool = False) -> DataFrame:
    schema = (
        "vec_id bigint, rank int, neighbor_id bigint, neighbor_label int, cos_sim double"
        if labels
        else _TOPK_SCHEMA
    )
    return spark.createDataFrame([], schema)


def _rank_topk(scored: DataFrame, k: int, *carry: str) -> DataFrame:
    """The final (cos_sim desc, neighbor_id asc) top-k window, ranked."""
    return top_k_per_group(
        scored,
        partition_by=["vec_id"],
        order_by=[F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
        k=k,
        rank_col="rank",
        keep_rank=True,
    ).select(
        "vec_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", *carry, "cos_sim"
    )


def _topk_scorer(
    q_ids, keep, score_batch, q_probes=None, exclude_self=True,
    q_labels=None, score_col="cos_sim",
):
    """THE per-partition scan kernel of every bounded-query top-k —
    brute force, hard negatives, and the flat and physical IVF / PQ /
    SQ8 forms — as a ``mapInPandas`` function.

    ``score_batch(pdf)`` turns one Arrow batch into (neighbor ids,
    (queries x rows) ROUNDED scores, list ids or ``None``); the family
    arithmetic lives there. The kernel keeps a min-heap of the best
    ``keep`` (score, neighbor) per query: only rows that can beat (or
    tie) the worst kept candidate enter the Python loop, and with
    ``q_probes`` only rows whose list id is among that query's probed
    lists; with ``q_labels`` the corpus frame also carries the
    neighbor label as ``nl``, same-label rows are masked out (hard
    negatives) and the label rides through the heap into the output.
    Ties break by lower neighbor id, so each partition emits exactly
    its top-``keep`` under (score desc, neighbor asc) and any global
    cut over the emitted rows is partition-independent."""

    def score_partition(batches):
        import heapq

        import pandas as pd

        heaps = {int(qid): [] for qid in q_ids}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nids, scores, lids = score_batch(pdf)
            nlabels = None if q_labels is None else pdf["nl"].to_numpy()
            for qi, qid in enumerate(q_ids):
                heap = heaps[int(qid)]
                s = scores[qi]
                # a heap not yet full admits any score >= -2.0 (every cosine)
                elig = s >= (heap[0][0] if len(heap) >= keep else -2.0)
                if q_probes is not None:
                    elig &= np.isin(lids, q_probes[qi])
                if nlabels is not None:
                    elig &= nlabels != q_labels[qi]
                for ci in np.nonzero(elig)[0]:
                    nid = int(nids[ci])
                    if exclude_self and nid == qid:
                        continue
                    # min-heap keyed (score asc, neighbor desc): the root
                    # is the WORST kept candidate; nid is unique, so a
                    # trailing label never compares
                    item = (float(s[ci]), -nid) + (
                        () if nlabels is None else (int(nlabels[ci]),)
                    )
                    if len(heap) < keep:
                        heapq.heappush(heap, item)
                    elif item > heap[0]:
                        heapq.heapreplace(heap, item)
        cols = ["vec_id", "neighbor_id"] + (
            [] if q_labels is None else ["neighbor_label"]
        ) + [score_col]
        dtypes = {"vec_id": "int64", "neighbor_id": "int64",
                  "neighbor_label": "int32", score_col: "float64"}
        out = [
            (qid, -it[1], *it[2:], it[0]) for qid, heap in heaps.items() for it in heap
        ]
        yield pd.DataFrame(out, columns=cols).astype({c: dtypes[c] for c in cols})

    return score_partition


class _FloatCode:
    """Float code table (brute force and IVF-flat): rows are kept as the
    raw float vectors (the ``embedding`` column under ``lists/``) and
    score by the exact cosine of the ``np.linalg.norm`` unit vectors,
    rounded at ``round_scale``. Ranked directly — no re-rank stage."""

    quantized = False
    data_dir, col, col_type = "lists", "embedding", "array<double>"

    def encode(self, raw):
        return raw

    def scorer(self, qvecs, round_scale):
        qm = _np_unit(qvecs)
        return lambda codes: _nround(qm @ _np_unit(codes).T, round_scale)

    def save(self, index_path) -> None:
        pass

    @classmethod
    def load(cls, index_path):
        return cls()

    @staticmethod
    def to_cells(codes):
        return list(codes)

    @staticmethod
    def from_cells(cells):
        return np.array(list(cells), dtype=np.float64)


class _QuantizedCode:
    """Shared storage of the byte codes (SQ8, PQ): one ``binary`` cell
    per vector under ``codes/``, decoded by a single ``np.frombuffer``
    per Arrow batch. Quantized scans rank candidates by a 6dp-rounded
    ADC score and re-rank the global top-(k+rerank) exactly
    (:func:`_adc_exact_rerank`)."""

    quantized = True
    data_dir, col, col_type = "codes", "codes", "binary"

    @staticmethod
    def to_cells(codes):
        return [row.tobytes() for row in codes.astype(np.uint8)]

    @staticmethod
    def from_cells(cells):
        return np.frombuffer(b"".join(cells), dtype=np.uint8).reshape(len(cells), -1)


class _SQ8Code(_QuantizedCode):
    """SQ8 code table: per-dimension affine min/max quantization of the
    rounded unit values (:func:`_np_unit_rounded`) to one byte per
    dimension, ``code_d = floor((u_d - mn_d) / (mx_d - mn_d) * 255 +
    0.5)`` (code 0 on constant dims); scores by the dot of the rounded
    unit query with the dequantized row ``mn + code * (mx - mn) / 255``.
    The min/max sidecar is ``minmax`` (dim rows)."""

    def __init__(self, mn, mx):
        self.mn, self.mx = mn, mx
        self.span = mx - mn

    @classmethod
    def fit(cls, embeddings, id_col, vec_col):
        return cls(*_sq8_dim_stats(embeddings, id_col, vec_col))

    def encode(self, raw):
        um = _np_unit_rounded(raw)
        nz = self.span > 0
        codes = np.zeros_like(um)
        codes[:, nz] = np.floor((um[:, nz] - self.mn[nz]) / self.span[nz] * 255.0 + 0.5)
        return codes

    def scorer(self, qvecs, round_scale):
        qn, mn, scale = _np_unit_rounded(qvecs), self.mn, self.span / 255.0
        return lambda codes: _nround(qn @ (mn + codes * scale).T, 6)

    @staticmethod
    def budget(n_scanned: int) -> int:
        return _auto_rerank_budget(n_scanned)

    def save(self, index_path) -> None:
        import pyarrow as pa

        _sidecar_write(
            f"{index_path}/minmax",
            {"pos": list(range(len(self.mn))), "mn": [float(v) for v in self.mn],
             "mx": [float(v) for v in self.mx]},
            pa.schema([("pos", pa.int32()), ("mn", pa.float64()), ("mx", pa.float64())]),
        )

    @classmethod
    def load(cls, index_path):
        rows = _sidecar_rows(f"{index_path}/minmax")
        mn, mx = np.zeros(len(rows)), np.zeros(len(rows))
        for r in rows:
            mn[r["pos"]], mx[r["pos"]] = r["mn"], r["mx"]
        return cls(mn, mx)


class _PQCode(_QuantizedCode):
    """PQ code table: ``m`` contiguous subspaces, each encoded to its
    nearest of ``ksub`` codebook entries — argmin of the 8dp-ROUNDED L2
    distance of the unit subvector, first index (= lowest code) on ties;
    scores by ADC: the sum over subspaces of the query-subvector dot
    with the coded entry, via per-query (m x ksub) lookup tables. The
    codebook sidecar is ``books`` (m*ksub rows)."""

    def __init__(self, books):
        self.books = books

    @classmethod
    def fit(cls, embeddings, id_col, vec_col, m, ksub, seed, train_sample, books=None):
        if books is None:
            return cls(_train_pq_codebooks(embeddings, id_col, vec_col, m, ksub, seed, train_sample))
        books = np.asarray(books, dtype=np.float64)
        if books.shape[0] != m or books.shape[1] != ksub:
            raise ValueError(f"books shape {books.shape} != (m={m}, ksub={ksub}, dsub)")
        return cls(books)

    def encode(self, raw):
        m, _, dsub = self.books.shape
        sub = _np_unit(raw).reshape(len(raw), m, dsub)
        codes = np.empty((len(raw), m), dtype=np.int64)
        for j in range(m):
            d2 = ((sub[:, j, None, :] - self.books[None, j]) ** 2).sum(axis=2)
            codes[:, j] = _nround(np.sqrt(d2)).argmin(axis=1)
        return codes

    def scorer(self, qvecs, round_scale):
        m, _, dsub = self.books.shape
        qm = _np_unit(qvecs)
        tables = np.einsum("qjd,jkd->qjk", qm.reshape(len(qm), m, dsub), self.books)
        js = np.arange(m)
        return lambda codes: _nround(
            np.stack([t[js, codes].sum(axis=1) for t in tables]), 6
        )

    @staticmethod
    def budget(n_scanned: int) -> int:
        return _auto_rerank_budget(n_scanned, floor=128)

    def save(self, index_path) -> None:
        import pyarrow as pa

        m, ksub, _ = self.books.shape
        _sidecar_write(
            f"{index_path}/books",
            {"j": [j for j in range(m) for _ in range(ksub)],
             "cid": [c for _ in range(m) for c in range(ksub)],
             "bv": [[float(v) for v in self.books[j, c]] for j in range(m) for c in range(ksub)]},
            pa.schema([("j", pa.int32()), ("cid", pa.int32()), ("bv", pa.list_(pa.float64()))]),
        )

    @classmethod
    def load(cls, index_path):
        rows = _sidecar_rows(f"{index_path}/books")
        m = max(r["j"] for r in rows) + 1
        ksub = max(r["cid"] for r in rows) + 1
        books = np.zeros((m, ksub, len(rows[0]["bv"])), dtype=np.float64)
        for r in rows:
            books[r["j"], r["cid"]] = r["bv"]
        return cls(books)


def _train_centroids(embeddings, vec_col, n_lists, seed, train_sample):
    """Seeded k-means coarse quantizer: a few Lloyd iterations on cosine
    (unit vectors -> dot argmax) over a bounded driver sample. Returns a
    unit-normalized (n_lists, dim) ndarray — small enough to ship into
    closures by value."""
    rng = np.random.default_rng(seed)
    sample = embeddings.select(F.col(vec_col)).limit(train_sample).collect()
    xs = _np_unit(np.array([r[0] for r in sample], dtype=np.float64))
    cents = xs[rng.choice(len(xs), size=min(n_lists, len(xs)), replace=False)]
    for _ in range(5):
        assign = (xs @ cents.T).argmax(axis=1)
        for j in range(len(cents)):
            members = xs[assign == j]
            if len(members):
                c = members.mean(axis=0)
                cents[j] = c / max(np.linalg.norm(c), 1e-12)
    return cents


class _Coarse:
    """The IVF coarse stage shared by every family: centroids (seeded
    k-means, or passed in by the caller — e.g. seed vectors an external
    oracle can replay exactly), the list assignment, and the per-query
    probe ranking. Assignment and probing both rank the ROUNDED dot of
    the unit vector with the centroids, lowest ``list_id`` on ties
    (first-index argmax / stable argsort), matching the oracle's
    (dot DESC, list_id) window. The centroid sidecar is ``centroids``."""

    def __init__(self, cents):
        self.cents = np.asarray(cents, dtype=np.float64)

    @classmethod
    def fit(cls, embeddings, vec_col, n_lists, seed, train_sample, centroids=None):
        if centroids is None:
            centroids = _train_centroids(embeddings, vec_col, n_lists, seed, train_sample)
        return cls(centroids)

    def assign(self, raw):
        return _nround(_np_unit(raw) @ self.cents.T).argmax(axis=1).astype("int32")

    def probes(self, qvecs, n_probe):
        """(queries, n_probe) list ids: each query's nearest lists."""
        ranked = np.argsort(-_nround(_np_unit(qvecs) @ self.cents.T), axis=1, kind="stable")
        return ranked[:, :n_probe]

    @staticmethod
    def prune(corpus: DataFrame, q_probes) -> DataFrame:
        """Push the probe UNION into the scan: on a list-partitioned
        index ``list_id IN (...)`` is a partition filter, so non-probed
        list directories are never opened (plan-asserted in tests)."""
        return corpus.filter(F.col("list_id").isin(sorted({int(p) for p in np.ravel(q_probes)})))

    def save(self, index_path) -> None:
        import pyarrow as pa

        _sidecar_write(
            f"{index_path}/centroids",
            {"list_id": list(range(len(self.cents))),
             "centroid": [[float(v) for v in row] for row in self.cents]},
            pa.schema([("list_id", pa.int32()), ("centroid", pa.list_(pa.float64()))]),
        )

    @classmethod
    def load(cls, index_path):
        rows = _sidecar_rows(f"{index_path}/centroids")
        cents = np.zeros((len(rows), len(rows[0]["centroid"])))
        for r in rows:
            cents[r["list_id"]] = r["centroid"]
        return cls(cents)


def _scan_topk(
    corpus, score_batch, qrows, k, code, rerank, float_corpus, id_col,
    vec_col, round_scale, q_probes=None, exclude_self=True, q_labels=None,
):
    """Kernel scan + the final ranking. Float codes rank the scanned
    cosines directly; quantized codes cut the global ADC
    top-(k+rerank) — partition-independent, since every partition heap
    holds a superset of its share of that list — and re-rank the
    survivors exactly, so quantization only ever chooses candidates,
    never reported scores."""
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    keep = k + rerank if code.quantized else k
    score_col = "adc" if code.quantized else "cos_sim"
    label = "" if q_labels is None else "neighbor_label int, "
    cands = corpus.mapInPandas(
        _topk_scorer(q_ids, keep, score_batch, q_probes, exclude_self, q_labels, score_col),
        schema=f"vec_id bigint, neighbor_id bigint, {label}{score_col} double",
    )
    if not code.quantized:
        return _rank_topk(cands, k, *(() if q_labels is None else ("neighbor_label",)))
    cut = top_k_per_group(
        cands,
        partition_by=["vec_id"],
        order_by=[F.col("adc").desc(), F.col("neighbor_id").asc()],
        k=keep,
    )
    return _adc_exact_rerank(
        corpus.sparkSession, cut, qrows, float_corpus, id_col, vec_col, k,
        round_scale, cand_bound=len(qrows) * keep,
    )


def _flat_topk(
    embeddings, fit_code, k, query_filter, id_col, vec_col, round_scale,
    max_queries, op_name, rerank=0, coarse=None, n_probe=None, queries=None,
    exclude_self=True, label_col=None,
):
    """The in-memory form of every family: collect the bounded queries,
    fit the code table (``fit_code()``, after the empty check, so an
    empty corpus never reaches training), then scan the corpus once,
    encoding each Arrow batch in-scan (and assigning its coarse list,
    with ``coarse``) before the kernel scores it. No index is written.
    ``queries`` takes the query set from another frame; ``label_col``
    masks same-label neighbors (hard negatives)."""
    qrows = _bounded_query_rows(
        queries if queries is not None else embeddings, id_col, vec_col,
        query_filter, max_queries, op_name,
        extra_cols=() if label_col is None else (label_col,),
    )
    if not qrows:
        return _empty_topk(embeddings.sparkSession, labels=label_col is not None)
    q_labels = None
    if label_col is not None:
        if any(r[2] is None for r in qrows):
            raise ValueError(
                f"{op_name}: null {label_col!r} among query rows — the "
                "different-label mask is undefined for null labels; "
                "filter or impute them first"
            )
        q_labels = [int(r[2]) for r in qrows]
    code = fit_code()
    qvecs = np.array([r[1] for r in qrows], dtype=np.float64)
    score = code.scorer(qvecs, round_scale)

    def score_batch(pdf):
        raw = np.array(list(pdf["cv"]), dtype=np.float64)
        lids = None if coarse is None else coarse.assign(raw)
        return pdf["neighbor_id"].to_numpy(), score(code.encode(raw)), lids

    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        *([] if label_col is None else [F.col(label_col).alias("nl")]),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    return _scan_topk(
        corpus, score_batch, qrows, k, code, rerank, embeddings, id_col, vec_col,
        round_scale, q_probes=None if coarse is None else coarse.probes(qvecs, n_probe),
        exclude_self=exclude_self, q_labels=q_labels,
    )


def _build_index(embeddings, index_path, code, coarse, id_col, vec_col) -> None:
    """Materialize a family's physical layout: the code sidecar, the
    centroid sidecar (IVF), and one Arrow encode pass writing
    (vec_id, codes) — the rows the flat form encodes in-scan, bit for
    bit — under ``{index_path}/{code.data_dir}``, PARTITIONED BY
    ``list_id`` when ``coarse`` is given (one directory per inverted
    list, so a probe reads only the probed lists' files). No shuffle
    beyond the partitioned write."""
    code.save(index_path)
    if coarse is not None:
        coarse.save(index_path)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            raw = np.array(list(pdf["embedding"]), dtype=np.float64)
            out = {"vec_id": pdf["vec_id"].to_numpy(), code.col: code.to_cells(code.encode(raw))}
            if coarse is not None:
                out["list_id"] = coarse.assign(raw)
            yield pd.DataFrame(out)

    schema = f"vec_id bigint, {code.col} {code.col_type}"
    writer = (
        embeddings.select(
            F.col(id_col).cast("bigint").alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        )
        .mapInPandas(encode, schema=schema + ("" if coarse is None else ", list_id int"))
        .write.mode("overwrite")
    )
    if coarse is not None:
        writer = writer.partitionBy("list_id")
    writer.parquet(f"{index_path}/{code.data_dir}")


def _search(
    spark, index_path, queries, embeddings, code_cls, k, rerank, id_col,
    vec_col, round_scale, max_queries, n_probe, op_name,
):
    """The physical form of every family: load the sidecars, collect the
    bounded queries, probe (list-partitioned index: each query's
    ``n_probe`` nearest lists, default 4, the union pushed into the
    scan as a partition filter), resolve ``rerank=None`` from the
    PROBED row count, and scan the stored codes with the kernel — each
    query keeps only rows of its own probed lists (the stored
    ``list_id``; no re-assignment at search time)."""
    code = code_cls.load(index_path)
    qrows = _bounded_query_rows(queries, id_col, vec_col, None, max_queries, op_name)
    if not qrows:
        return _empty_topk(spark)
    qvecs = np.array([r[1] for r in qrows], dtype=np.float64)
    corpus = spark.read.parquet(f"{index_path}/{code.data_dir}")
    q_probes = None
    if "list_id" in corpus.columns:
        q_probes = _Coarse.load(index_path).probes(qvecs, 4 if n_probe is None else n_probe)
        corpus = _Coarse.prune(corpus, q_probes)
    elif n_probe is not None:
        raise ValueError(
            f"{op_name}: n_probe given but the index has no list_id partitions "
            f"— rebuild with {op_name.replace('search', 'build_index')}(n_lists=...)"
        )
    if rerank is None:
        rerank = code.budget(corpus.count())
    score = code.scorer(qvecs, round_scale)

    def score_batch(pdf):
        lids = None if q_probes is None else pdf["list_id"].to_numpy()
        return pdf["vec_id"].to_numpy(), score(code.from_cells(pdf[code.col])), lids

    return _scan_topk(
        corpus, score_batch, qrows, k, code, rerank, embeddings, id_col, vec_col,
        round_scale, q_probes=q_probes,
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    k: int = 5,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    max_queries: int | None = None,
    queries: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: (vec_id, rank, neighbor_id, cos_sim).

    ``queries`` turns this into a cross-frame KNN JOIN: the (bounded)
    query set comes from another frame carrying the same ``id_col`` /
    ``vec_col`` names (alias first) with NUMERIC ids — e.g. per-label
    centroids asking "which corpus vectors sit nearest each class
    center". Pass ``exclude_self=False`` there: the id namespaces
    differ, so dropping a corpus row that merely shares a query's id
    number would be wrong.

    Scale design: the (bounded) query set is collected once and shipped
    to executors as a unit-normalized float64 matrix inside the scoring
    closure; the corpus NEVER leaves its partitions — each partition
    streams Arrow batches through one BLAS matmul (``Q @ C.T``) and
    reduces to a per-partition top-k heap, so the shuffle carries only
    ``partitions x |queries| x k`` candidate rows into the final global
    window. Brute force stays exact at any corpus size; only the query
    set must fit on the driver (it must be small for O(Q x N) to make
    sense at all).

    ``cos_sim`` is rounded (default 8dp) BEFORE ranking with a
    neighbor-id tie-break, so ordering is reproducible across engines.
    """
    return _flat_topk(
        embeddings, _FloatCode, k, query_filter, id_col, vec_col, round_scale,
        max_queries, "cosine_topk_bruteforce", queries=queries,
        exclude_self=exclude_self,
    )


def hard_negative_topk(
    embeddings: DataFrame,
    k: int = 5,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_scale: int = 8,
    max_queries: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each (bounded)
    query vector, the exact top-k most-cosine-similar corpus vectors
    whose ``label_col`` DIFFERS from the query's — the classic
    "hardest negatives" batch-construction step for embedding-model
    training. Returns (vec_id, rank, neighbor_id, neighbor_label,
    cos_sim).

    Scale design: identical to :func:`cosine_topk_bruteforce`, plus a
    query label vector in the scoring closure; same-label columns are
    masked out vectorized per Arrow batch and the self-row is excluded
    for free (it always shares the query's label).

    Label contract: ``label_col`` must be an INTEGRAL column
    (byte/short/int/long) with no nulls among the queries — the output
    schema pins ``neighbor_label int`` and the mask compares int64
    vectors. A non-integer label column raises ``ValueError`` up front
    (map string labels through a dictionary join first); a null query
    label raises ``ValueError`` at plan construction.
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    ltype = embeddings.schema[label_col].dataType
    if not isinstance(ltype, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"hard_negative_topk: label column {label_col!r} must be an "
            f"integral type (byte/short/int/long), got {ltype.simpleString()} "
            "— join string labels through a dictionary table first"
        )
    return _flat_topk(
        embeddings, _FloatCode, k, query_filter, id_col, vec_col, round_scale,
        max_queries, "hard_negative_topk", exclude_self=False, label_col=label_col,
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    max_corpus_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (vec_a, vec_b, cos_sim)
    for every a < b with cosine >= threshold — the exact O(N^2)
    correctness baseline for embedding dedup, bounded by
    ``max_corpus_rows`` (it broadcasts one full side by closure). The
    production-scale path is :func:`lsh_near_dup_pairs`, which never
    collects and scores only within LSH buckets.

    Scale design: one side of the N x N comparison is shipped to
    executors as a unit-normalized float64 matrix; the other side
    streams through its partitions, each Arrow batch scored by one BLAS
    matmul and mask-filtered to >= threshold before anything is
    materialized.
    """
    rows = embeddings.select(F.col(id_col), F.col(vec_col)).limit(max_corpus_rows + 1).collect()
    if len(rows) > max_corpus_rows:
        raise ValueError(
            f"cosine_near_dup_pairs: corpus exceeds max_corpus_rows={max_corpus_rows}; "
            "this exact all-pairs baseline broadcasts one full side — use "
            "lsh_near_dup_pairs for open-ended corpora"
        )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    m = _np_unit(np.array([r[1] for r in rows], dtype=np.float64))
    corpus = embeddings.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("cv"))

    def score_partition(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = _np_unit(np.array(list(pdf["cv"]), dtype=np.float64))
            sims = _nround(m @ cm.T, round_scale)
            bids = pdf["vec_b"].to_numpy()
            # a < b keeps each unordered pair exactly once (the a-side
            # runs over the full matrix, the b-side over this batch)
            ai, bi = np.nonzero((sims >= threshold) & (ids[:, None] < bids[None, :]))
            yield pd.DataFrame(
                {"vec_a": ids[ai], "vec_b": bids[bi], "cos_sim": sims[ai, bi]}
            ).astype({"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"})

    return corpus.mapInPandas(score_partition, schema="vec_a bigint, vec_b bigint, cos_sim double")


def lsh_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_bands: int = 24,
    band_planes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs via banded hyperplane LSH —
    the fully distributed scale path (nothing is ever collected to the
    driver; contrast :func:`cosine_near_dup_pairs`, the bounded exact
    oracle twin).

    Shape: (1) one ``mapInPandas`` pass signs each vector against
    ``n_bands x band_planes`` seeded hyperplanes and emits one
    (band, bucket) row per band — zero shuffle; (2) ``applyInPandas``
    per (band, bucket) group runs the exact BLAS all-pairs scoring
    WITHIN the bucket only and keeps pairs >= threshold; (3) one
    ``dropDuplicates`` merges pairs that collided in several bands
    (scores are identically rounded, so the merge is exact). Two
    shuffles total, both keyed finer than the data (band x bucket).

    A pair at exactly the threshold collides in a band with
    p = (1 - acos(t)/pi)^band_planes; missing all bands is
    (1-p)^n_bands — ~5e-6 at t=0.4 with the defaults, and the planes
    are seeded, so results are deterministic. At production thresholds
    (~0.95) raise ``band_planes`` to 8-16 so buckets shrink ~2^-planes
    and within-bucket work stays sub-quadratic.

    SCALE WARNING (SCALING.md evidence): few planes per band put
    essentially EVERY pair in a shared bucket — an unrelated
    (orthogonal) pair collides per band with ~2^-band_planes, so with
    the defaults (24 bands x 2 planes) ~99.9% of ALL pairs reach the
    exact within-bucket scorer and cost grows quadratically with the
    corpus. That is inherent to recall at low thresholds, not a bug —
    but it must be a choice, so this function emits a
    ``RuntimeWarning`` when the expected random-pair collision
    fraction 1-(1-2^-band_planes)^n_bands exceeds 5%. Alternatives at
    scale: raise the threshold + band_planes, use multi-probe
    :func:`hyperplane_lsh_topk`, or text-side
    :func:`~..llm.dedup.jaccard_pairs` whose prefix filter is exact and
    sub-quadratic at high thresholds.
    """
    p_random = 0.5**band_planes
    random_pair_frac = 1.0 - (1.0 - p_random) ** n_bands
    if random_pair_frac > 0.05:
        import warnings

        warnings.warn(
            f"lsh_near_dup_pairs(threshold={threshold}, n_bands={n_bands}, "
            f"band_planes={band_planes}): ~{random_pair_frac:.0%} of ALL "
            "pairs share a bucket, so exact scoring is effectively "
            "all-pairs and cost grows QUADRATICALLY with the corpus "
            "(SCALING.md 'LSH regimes at a glance': 31x wall for 8x "
            "rows in this regime vs 1.4x at t=0.9/12-planes). Raise "
            "band_planes (with a higher threshold), or use multi-probe "
            "hyperplane_lsh_topk / prefix-filtered jaccard_pairs for "
            "sub-quadratic near-dup at scale.",
            RuntimeWarning,
            stacklevel=2,
        )

    # one bounded driver probe for the vector dim (the array<> schema does
    # not carry it); empty/all-null input short-circuits to an empty pair
    # frame instead of a TypeError deep in plane construction
    row = embeddings.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if row is None:
        return embeddings.sparkSession.createDataFrame(
            [], "vec_a bigint, vec_b bigint, cos_sim double"
        )
    dim = len(row[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bands * band_planes, dim))
    nb, bp = n_bands, band_planes

    src = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))

    def assign_buckets(batches):
        import pandas as pd

        weights = (2 ** np.arange(bp)).astype(np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf["v"]), dtype=np.float64)
            bits = (m @ planes.T >= 0).astype(np.int64)  # (n, nb*bp)
            buckets = bits.reshape(len(m), nb, bp) @ weights  # (n, nb)
            ids = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "band": np.repeat(np.arange(nb, dtype=np.int32), len(m)),
                    "bucket": buckets.T.reshape(-1),
                    "vec_id": np.tile(ids, nb),
                    "v": list(pdf["v"]) * nb,
                }
            )

    banded = src.mapInPandas(
        assign_buckets, schema=f"band int, bucket bigint, vec_id bigint, v {src.schema['v'].dataType.simpleString()}"
    )

    def score_bucket(pdf):
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"}
            )
        m = _np_unit(np.array(list(pdf["v"]), dtype=np.float64))
        sims = _nround(m @ m.T, round_scale)
        ids = pdf["vec_id"].to_numpy()
        ai, bi = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {"vec_a": ids[ai], "vec_b": ids[bi], "cos_sim": sims[ai, bi]}
        ).astype({"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"})

    pairs = banded.groupBy("band", "bucket").applyInPandas(
        score_bucket, schema="vec_a bigint, vec_b bigint, cos_sim double"
    )
    return pairs.dropDuplicates(["vec_a", "vec_b"])


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    seed: int = 42,
    train_sample: int = 2048,
    max_queries: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — index-FREE form: the
    corpus is scanned once and every vector's list assignment is
    recomputed at score time. Use this when the corpus is not worth
    materializing; for repeated searches, :func:`ivf_build_index` +
    :func:`ivf_search` persist the assignment as a physical partition
    key so a probe READS only ``n_probe / n_lists`` of the data.

    Train: k-means (a few Lloyd iterations, seeded, on a bounded driver
    sample) -> ``n_lists`` centroids. Search: each query keeps exact
    cosine scores only from its ``n_probe`` nearest inverted lists.
    """
    coarse = _Coarse.fit(embeddings, vec_col, n_lists, seed, train_sample)
    return _flat_topk(
        embeddings, _FloatCode, k, query_filter, id_col, vec_col, round_scale,
        max_queries, "ivf_topk", coarse=coarse, n_probe=n_probe,
    )


def ivf_build_index(
    embeddings: DataFrame,
    index_path: str,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_sample: int = 2048,
    centroids=None,
):
    """Materialize the IVF physical layout: the corpus written to
    ``{index_path}/lists`` PARTITIONED BY ``list_id`` (one directory
    per inverted list), centroids to ``{index_path}/centroids``.

    This is what makes IVF pay at scale: :func:`ivf_search` pushes
    ``list_id IN (probes)`` into the scan as a partition filter, so a
    probe reads ``n_probe/n_lists`` of the FILES — the non-probed lists
    are never opened, not scanned-then-discarded. Returns the centroid
    matrix.

    ``centroids`` (an (n_lists, dim) array-like) skips k-means training
    and quantizes against the given coarse centroids — e.g. seed
    vectors chosen by a rule an external oracle can replay exactly
    (the catalog's hash-checked IVF entry passes the unit-normalized
    lowest-id corpus vectors)."""
    coarse = _Coarse.fit(embeddings, vec_col, n_lists, seed, train_sample, centroids)
    _build_index(embeddings, index_path, _FloatCode(), coarse, id_col, vec_col)
    return coarse.cents


def ivf_search(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    max_queries: int = 10_000,
) -> DataFrame:
    """Search a materialized IVF index (:func:`ivf_build_index`): the
    scan is FILTERED to the union of every query's ``n_probe`` nearest
    lists — ``list_id IN (...)`` is a partition filter, so non-probed
    list directories are never read (plan-asserted in tests). Each
    query then keeps scores only from its own probed lists. Equals
    :func:`ivf_topk` row for row at the same centroids.

    ``queries`` is a bounded DataFrame of (id_col, vec_col);
    ``max_queries`` guards the driver collect the same way the other
    similarity operators do."""
    return _search(
        spark, index_path, queries, None, _FloatCode, k, 0, id_col, vec_col,
        round_scale, max_queries, n_probe, "ivf_search",
    )


def ann_recall_summary(
    exact_topk: DataFrame, ann_topk: DataFrame, recall_floor: float
) -> DataFrame:
    """One self-verifying row comparing an ANN top-k result to its
    exact brute-force twin: (n_queries, n_exact, n_ann, n_hits, recall,
    floor_ok). Everything is deterministic (seeded planes/centroids), so
    the row is reproducible run-to-run; ``floor_ok`` makes a recall
    regression visible as a value change, not just a silent drift."""
    # ONE full-outer join + ONE aggregate: (vec_id, neighbor_id) is
    # unique within each top-k list, so per joined row the presence
    # markers recover the counts: n_exact/n_ann = marker counts,
    # n_hits = both-present, n_queries = distinct vec_id among exact rows
    ex = exact_topk.select("vec_id", "neighbor_id", F.lit(1).alias("__e"))
    an = ann_topk.select("vec_id", "neighbor_id", F.lit(1).alias("__a"))
    both = ex.join(an, ["vec_id", "neighbor_id"], "full_outer")
    return (
        both.agg(
            F.count_distinct(
                F.when(F.col("__e").isNotNull(), F.col("vec_id"))
            ).alias("n_queries"),
            F.count("__e").alias("n_exact"),
            F.count("__a").alias("n_ann"),
            F.count(F.when(F.col("__e").isNotNull() & F.col("__a").isNotNull(), 1)).alias(
                "n_hits"
            ),
        )
        .select(
            "n_queries",
            "n_exact",
            "n_ann",
            "n_hits",
            # n_exact = 0 (empty query set / k=0) would make both NULL and a
            # gate reading floor_ok would see neither true nor false — pin
            # recall to 0.0 and floor_ok to false so no-data reads as a
            # failing gate, not a silent one
            F.coalesce(dround(F.col("n_hits") / F.col("n_exact"), 4), F.lit(0.0)).alias("recall"),
            F.coalesce(
                F.col("n_hits") / F.col("n_exact") >= recall_floor, F.lit(False)
            ).alias("floor_ok"),
        )
    )


def _planes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def hyperplane_lsh_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int | None = None,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: bucket by sign bits against seeded
    random hyperplanes, then exact scoring within the bucket only.
    2^n_planes buckets => corpus scanned per query shrinks ~2^-n_planes
    (at some recall cost).

    ``n_probes`` enables MULTI-PROBE: each query additionally scans the
    ``n_probes - 1`` flip-one-bit neighbor buckets whose planes it is
    CLOSEST to (smallest |rounded dot| margin — those are the buckets a
    true near neighbor most likely fell into), so candidate volume
    grows ~linearly in ``n_probes`` while recall climbs much faster
    than lowering ``n_planes`` would allow (measured at sf0.01,
    n_planes=4: recall 0.134 at n_probes=1 → 0.244 at 2 → 0.340 at 3 →
    0.414 at 4 → 0.462 at 5).
    Each corpus vector lives in exactly ONE bucket and probe signatures
    are distinct, so no candidate pair is scored twice. Default 1 keeps
    the single-bucket behavior (the hash-graded catalog oracle replays
    that path).

    ``dim`` is inferred from the data when not given — a mismatched dim
    would null-pad the dot products and silently collapse every vector
    into one bucket (a full cross join)."""
    if not 1 <= n_probes <= n_planes + 1:
        raise ValueError(f"n_probes must be in [1, n_planes + 1], got {n_probes}")
    if dim is None:
        first = embeddings.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
        if first is None:  # empty/all-null input: no buckets, no neighbors
            return _empty_topk(embeddings.sparkSession)
        dim = len(first[0])
    planes = _planes(n_planes, dim)
    # one parsed literal instead of n_planes x dim F.lit py4j calls
    # (repr() round-trips every double exactly)
    plane_arr = F.expr(
        "array(" + ",".join(
            "array(" + ",".join(repr(v) + "D" for v in row) + ")"
            for row in planes
        ) + ")"
    )
    # sign bit on the ROUNDED dot (8dp dround, oracle twin o_round):
    # an ulp of accumulation skew at the 0 boundary must not flip a
    # bucket between engines
    dots = F.transform(plane_arr, lambda p: _dround_once(_dot(F.col(vec_col), p), 8))
    sig_from = lambda d: F.concat_ws(  # noqa: E731
        "", F.transform(d, lambda x: F.when(x >= 0, "1").otherwise("0"))
    )
    bucketed = embeddings.select(
        F.col(id_col), F.col(vec_col), dots.alias("__dots"), sig_from(dots).alias("bucket")
    )
    q = bucketed.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("qv"), "__dots", "bucket"
    )
    if query_filter is not None:
        q = q.filter(query_filter)
    if n_probes > 1:
        # flip the (n_probes - 1) closest-margin bits: sort plane
        # indices by (|dot|, idx) and rebuild the signature with each
        # chosen bit inverted — all in-plan, no Python
        margins = F.sort_array(
            F.transform(
                F.col("__dots"),
                lambda d, i: F.struct(F.abs(d).alias("m"), i.alias("idx")),
            )
        )
        flips = F.slice(F.transform(margins, lambda s: s["idx"]), 1, n_probes - 1)
        probe_sigs = F.array_union(
            F.array(F.col("bucket")),
            F.transform(
                flips,
                lambda fi: F.concat_ws(
                    "",
                    F.transform(
                        F.col("__dots"),
                        lambda d, i: F.when(
                            i == fi,
                            F.when(d >= 0, "0").otherwise("1"),
                        ).otherwise(F.when(d >= 0, "1").otherwise("0")),
                    ),
                ),
            ),
        )
        q = q.select(
            "vec_id", "qv", F.explode(probe_sigs).alias("bucket")
        )
    else:
        q = q.select("vec_id", "qv", "bucket")
    c = bucketed.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "bucket")
    pairs = q.join(c, "bucket").filter(F.col("vec_id") != F.col("neighbor_id"))
    cos = _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
    return _rank_topk(
        pairs.select("vec_id", "neighbor_id", _dround_once(cos, 8).alias("cos_sim")), k
    )


def _train_pq_codebooks(embeddings, id_col, vec_col, m, ksub, seed, train_sample):
    """Seeded per-subspace k-means codebooks (product quantization): the
    vector space splits into ``m`` contiguous subspaces; each gets its
    own ``ksub``-centroid L2 codebook trained with a few Lloyd
    iterations on a bounded driver sample of UNIT-normalized vectors.
    The sample is the ``train_sample`` LOWEST ids (TakeOrderedAndProject,
    bounded cost) — an un-ordered ``limit`` would depend on partition
    layout and break end-to-end determinism across repartitioning.
    Returns (m, ksub, dim // m) float64 — a few KB, shipped into
    closures by value like the IVF centroids."""
    rng = np.random.default_rng(seed)
    sample = (
        embeddings.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col))
        .limit(train_sample)
        .select(F.col(vec_col))
        .collect()
    )
    xs = _np_unit(np.array([r[0] for r in sample], dtype=np.float64))
    dim = xs.shape[1]
    if dim % m != 0:
        raise ValueError(f"PQ: dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    books = np.zeros((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = xs[:, j * dsub : (j + 1) * dsub]
        cents = sub[rng.choice(len(sub), size=min(ksub, len(sub)), replace=False)]
        for _ in range(8):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j, : len(cents)] = cents
    return books


def pq_topk(
    embeddings: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    rerank: int | None = None,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    seed: int = 42,
    train_sample: int = 2048,
    max_queries: int | None = None,
    books=None,
) -> DataFrame:
    """Product-quantization approximate top-k with exact re-rank —
    the MEMORY-scale ANN path (IVF prunes what is READ, LSH prunes what
    is COMPARED; PQ shrinks what is HELD: ``m`` uint8 codes per vector
    instead of ``dim`` floats, 32x at the defaults for dim=64).

    Per partition: corpus vectors encode in-scan to their nearest
    codebook entry per subspace (:class:`_PQCode`) and score against
    each query by asymmetric distance computation — table lookups, no
    float vectors (the scan a PQ-compressed index performs). The
    global top ``k + rerank`` ADC candidates are then re-scored
    EXACTLY by the shared JVM re-rank stage (:func:`_adc_exact_rerank`,
    the same IEEE op sequence as the DuckDB oracle), so PQ error
    affects only which candidates survive, never the reported
    similarity of survivors.

    Determinism: the codebooks are layout-independent (seeded k-means
    on the ``train_sample`` LOWEST ids, or caller-supplied via
    ``books`` — an (m, ksub, dim//m) array-like, e.g. subvectors of the
    lowest-id corpus vectors, which a SQL oracle can reconstruct), the
    ADC score rounds at 6dp with id tie-breaks, and the global ADC cut
    is partition-independent, so an external oracle can replay the
    whole pipeline.

    ``rerank=None`` (the default) SCALES the exact-rerank budget with
    the corpus (:func:`_auto_rerank_budget` at the PQ floor of 128:
    ``max(128, ceil(n/16))`` capped at 8192), costing one ``count()``
    of the corpus frame. A FIXED budget silently loses recall as the
    corpus grows (SCALING.md: recall 0.742 -> 0.502 at 8x corpus under
    a pinned 128, restored by n/16); the cap bounds per-query heap
    memory and the candidate shuffle — past it, compose with IVF
    (:func:`pq_build_index` with ``n_lists``) so the probed pool stays
    bounded. Pass an explicit int to pin the budget and stay
    action-free (the graded catalog entry pins 128).
    """
    if rerank is None:
        rerank = _PQCode.budget(embeddings.count())
    return _flat_topk(
        embeddings,
        lambda: _PQCode.fit(embeddings, id_col, vec_col, m, ksub, seed, train_sample, books),
        k, query_filter, id_col, vec_col, round_scale, max_queries, "pq_topk",
        rerank=rerank,
    )


def pq_build_index(
    embeddings: DataFrame,
    index_path: str,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books=None,
    seed: int = 42,
    train_sample: int = 2048,
    n_lists: int | None = None,
    centroids=None,
) -> None:
    """Materialize the PQ physical layout — the classic IVFPQ index
    when composed with ``n_lists`` (Jégou et al. 2011): the corpus
    encoded to ``{index_path}/codes`` as (vec_id, codes binary) — ``m``
    BYTES per vector, a ``dim*8/m``-fold shrink over float64 — plus the
    ``{index_path}/books`` codebook sidecar. The encode is the one
    :func:`pq_topk` runs in-scan, bit for bit, so a physical search
    equals the flat scan row for row at the same parameters.

    ``n_lists`` composes the two pruning axes exactly as in
    :func:`sq8_build_index`: codes additionally carry the coarse-list
    assignment (centroids to ``{index_path}/centroids``; ``centroids``
    overrides the seeded k-means trainer) and write PARTITIONED BY
    ``list_id``, so a probed :func:`pq_search` opens ``n_probe/n_lists``
    of the FILES and reads ``m`` bytes per held vector.

    ``books`` (an (m, ksub, dim//m) array-like) skips the seeded
    k-means trainer, e.g. the lowest-id-subvector books a SQL oracle
    can reconstruct (the ``emb_pq_topk`` treatment).
    """
    code = _PQCode.fit(embeddings, id_col, vec_col, m, ksub, seed, train_sample, books)
    coarse = (
        None if n_lists is None
        else _Coarse.fit(embeddings, vec_col, n_lists, seed, train_sample, centroids)
    )
    _build_index(embeddings, index_path, code, coarse, id_col, vec_col)


def pq_search(
    spark,
    index_path: str,
    queries: DataFrame,
    embeddings: DataFrame,
    k: int = 5,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    max_queries: int = 10_000,
    n_probe: int | None = None,
) -> DataFrame:
    """Search a materialized PQ index (:func:`pq_build_index`) — IVFPQ
    when the index is list-partitioned: the candidate stage scans ONLY
    (vec_id, codes) at ``m`` bytes per vector, scores by ADC table
    lookups against the codebook sidecar, and heaps the global
    top-(k+rerank) rounded sums per query; survivors re-rank exactly
    through the shared JVM fold stage (:func:`_adc_exact_rerank` — the
    float table is touched only via broadcast joins on the candidate
    ids).

    On a list-partitioned index the probe set prunes both axes:
    ``list_id IN (probes)`` is a partition filter and what IS read is
    ``m`` bytes per vector. ``n_probe`` defaults to 4 there; probing
    every list reproduces the flat answer exactly; ``n_probe`` on an
    un-listed index raises.

    ``rerank=None`` (the DEFAULT here, unlike ``sq8_search``) applies
    the corpus-scaled budget at the PQ floor of 128 over the PROBED
    codes count — the same helper and floor as :func:`pq_topk`, so the
    two match row for row at ``rerank=None`` too.

    CONTRACT: ``embeddings`` must be the SAME corpus the index was
    built from (the rerank joins survivors back by id).
    """
    return _search(
        spark, index_path, queries, embeddings, _PQCode, k, rerank, id_col,
        vec_col, round_scale, max_queries, n_probe, "pq_search",
    )


def _sq8_dim_stats(df: DataFrame, id_col: str, vec_col: str):
    """Per-dimension (mn, mx) float64 arrays over the corpus's rounded
    unit values — the SQ8 training pass. One Arrow scan emitting
    dim-count rows per PARTITION (partial min/max inside the batch
    loop), then a dim-row final aggregate: the shuffle carries
    partitions x dim rows, never data."""

    def partial(batches):
        import pandas as pd

        lo = hi = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            un = _np_unit_rounded(np.array(list(pdf[vec_col]), dtype=np.float64))
            bl, bh = un.min(axis=0), un.max(axis=0)
            lo = bl if lo is None else np.minimum(lo, bl)
            hi = bh if hi is None else np.maximum(hi, bh)
        if lo is not None:
            yield pd.DataFrame(
                {"pos": np.arange(len(lo), dtype="int32"), "mn": lo, "mx": hi}
            )

    stats = (
        df.select(F.col(vec_col).cast("array<double>").alias(vec_col))
        .mapInPandas(partial, schema="pos int, mn double, mx double")
        .groupBy("pos")
        .agg(F.min("mn").alias("mn"), F.max("mx").alias("mx"))
        .collect()
    )
    dim = max(r["pos"] for r in stats) + 1
    mn = np.zeros(dim, dtype=np.float64)
    mx = np.zeros(dim, dtype=np.float64)
    for r in stats:
        mn[r["pos"]] = r["mn"]
        mx[r["pos"]] = r["mx"]
    return mn, mx


# Above this many candidate rows (|queries| x (k+rerank)), the
# survivor list stops being broadcast-sized: skip the explicit hint
# and let AQE pick the join strategy from the measured size instead.
# ~24 bytes/row puts the hinted ceiling around tens of MB, far from
# driver memory pressure; the documented caps (max_queries=10000 x
# auto-rerank cap 8192) would otherwise hint an ~80M-row broadcast.
_BROADCAST_CAND_ROWS = 1_000_000


def _adc_exact_rerank(
    spark,
    cand_cut: DataFrame,
    qrows,
    float_corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    round_scale: int,
    cand_bound: int | None = None,
) -> DataFrame:
    """The SHARED exact re-rank stage of the quantized scans: join the
    ADC-survivor list (at most |queries| x (k+rerank) ids) against the
    float table, broadcast the collected query vectors, and score with
    the JVM codegen ``_dot``/``_norm`` fold — the same left-to-right
    IEEE op sequence DuckDB's ``list_dot_product`` uses, so the
    ``round_scale``-rounded cosine is identical across engines by
    construction. Full-width vectors are read for candidates only,
    never the corpus.

    ``cand_bound`` is the caller's upper bound on the survivor-list
    rows. The broadcast hint on the survivor join applies only when
    that bound is known and under ``_BROADCAST_CAND_ROWS``; larger (or
    unknown) bounds leave the strategy to AQE's measured sizes."""
    qdf = spark.createDataFrame(
        [(int(r[0]), [float(v) for v in r[1]]) for r in qrows],
        "vec_id bigint, qv array<double>",
    )
    cv = float_corpus.select(
        F.col(id_col).cast("bigint").alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    cos = _dround_once(
        _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))),
        round_scale,
    )
    cand = (
        F.broadcast(cand_cut)
        if cand_bound is not None and cand_bound <= _BROADCAST_CAND_ROWS
        else cand_cut
    )
    scored = (
        cv.join(cand, "neighbor_id")
        .join(F.broadcast(qdf), "vec_id")
        .select("vec_id", "neighbor_id", cos.alias("cos_sim"))
    )
    return _rank_topk(scored, k)


def sq8_topk(
    embeddings: DataFrame,
    k: int = 5,
    rerank: int = 32,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    max_queries: int | None = None,
) -> DataFrame:
    """Int8 scalar-quantized approximate top-k with exact re-rank — the
    MEMORY-BANDWIDTH path of the ANN family (PQ shrinks what is HELD to
    ``m`` codes; SQ8 keeps EVERY dimension at 1 byte instead of 8, so a
    100 TB float64 index scans as ~12.5 TB of codes).

    Training is ONE Arrow scan with per-partition partial min/max over
    the ROUNDED unit values (:func:`_sq8_dim_stats`); each corpus
    vector then encodes in-scan (:class:`_SQ8Code`) and scores by the
    dot with its DEQUANTIZED vector — the scan :func:`sq8_search`
    performs over the persisted codes. The top ``k + rerank``
    candidates re-rank EXACTLY (:func:`_adc_exact_rerank`), so
    quantization error affects only which candidates survive, never
    reported similarities.

    Determinism (oracle-replayable end to end): the quantization input
    is :func:`_np_unit_rounded`, whose left-to-right norm is the IEEE
    op sequence of both the JVM fold and DuckDB's ``list_dot_product``
    (pinned equal in tests), so codes are BIT-IDENTICAL across engines
    and the per-dim min/max are selections of those shared values. The
    ADC analog rounds at 6dp, the exact cosine at ``round_scale``,
    every ordering breaks ties by id, and the candidate cut is
    partition-independent.

    Unlike ``pq_topk`` the default ``rerank`` is a small FIXED 32:
    8-bit-per-dim reconstruction error is tiny (the ADC ordering is
    nearly exact), so the budget does not need to scale with the
    corpus the way PQ's coarse 8-code ADC does.
    """
    return _flat_topk(
        embeddings, lambda: _SQ8Code.fit(embeddings, id_col, vec_col), k,
        query_filter, id_col, vec_col, round_scale, max_queries, "sq8_topk",
        rerank=rerank,
    )


def sq8_build_index(
    embeddings: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    centroids=None,
    seed: int = 42,
    train_sample: int = 2048,
):
    """Materialize the SQ8 physical layout: the corpus encoded to
    ``{index_path}/codes`` as (vec_id, codes binary) — ``dim`` bytes of
    payload per vector, decoded in the scan by one ``np.frombuffer``
    per Arrow batch — plus the per-dimension ``{index_path}/minmax``
    sidecar. :func:`sq8_search` scans ONLY the codes files (the float
    column never appears in its candidate stage). Encoding is one Arrow
    pass after the one partial-aggregate min/max training scan, and is
    the one :func:`sq8_topk` runs in-scan, bit for bit. Returns
    (mn, mx).

    ``n_lists`` COMPOSES the two pruning axes: the codes additionally
    carry an IVF coarse-list assignment and write PARTITIONED BY
    ``list_id`` (centroids to ``{index_path}/centroids``; ``centroids``
    overrides the seeded k-means trainer exactly as in
    :func:`ivf_build_index`), so a probed :func:`sq8_search` reads
    ``n_probe/n_lists`` of the FILES and an eighth of the BYTES.
    """
    code = _SQ8Code.fit(embeddings, id_col, vec_col)
    coarse = (
        None if n_lists is None
        else _Coarse.fit(embeddings, vec_col, n_lists, seed, train_sample, centroids)
    )
    _build_index(embeddings, index_path, code, coarse, id_col, vec_col)
    return code.mn, code.mx


def _auto_rerank_budget(n_scanned: int, floor: int = 64) -> int:
    """The SHARED corpus-scaled exact-rerank budget of every quantized
    scan, parameterized by what the caller actually SCANS:
    ``max(floor, ceil(n/16))`` capped at 8192 (the executor-memory
    bound). The floor is quantizer-specific: the PQ paths pass 128
    because the coarse m-code ADC needs the wider exact window, so
    ``pq_topk`` and ``pq_search`` resolve IDENTICAL budgets at the same
    scanned count; the SQ8 paths keep the 64 default (their near-exact
    8-bit ADC is budget-insensitive). The searches pass the PROBED
    codes count, so composing with IVF keeps the budget bounded by the
    probed pool, not the corpus."""
    import math

    return max(floor, min(math.ceil(n_scanned / 16), 8192))


def sq8_search(
    spark,
    index_path: str,
    queries: DataFrame,
    embeddings: DataFrame,
    k: int = 5,
    rerank: int | None = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    max_queries: int = 10_000,
    n_probe: int | None = None,
) -> DataFrame:
    """Search a materialized SQ8 index (:func:`sq8_build_index`): the
    candidate stage scans ONLY (vec_id, codes) — 8x less bandwidth
    than the float64 corpus — dequantizes per Arrow batch against the
    minmax sidecar and heaps the global top-(k+rerank) rounded
    dequantized dots per query. Survivors then re-rank EXACTLY against
    ``embeddings`` (the float table), touched only via a BROADCAST join
    on the |queries| x (k+rerank) candidate ids; the re-rank runs
    JVM-side, so the whole search has exactly one Python stage: the
    byte scan. Matches :func:`sq8_topk` row for row at the same
    parameters.

    On an IVF-composed index (``sq8_build_index(n_lists=...)``) the
    probe set prunes BOTH axes: ``list_id IN (probes)`` is a partition
    filter and what IS read is bytes. ``n_probe`` defaults to 4 there;
    probing every list reproduces the flat-index answer exactly;
    ``n_probe`` on an un-listed index raises.

    ``rerank=None`` applies the corpus-scaled budget
    (:func:`_auto_rerank_budget`, floor 64) over the row count of the
    PROBED codes frame — the budget follows what is READ, which
    upper-bounds every query's own candidate pool (a diverse query
    batch can union every list). SCALING.md measured SQ8's recall as
    insensitive to the budget on this corpus (the recall knob of the
    composed search is ``n_probe``), so this is a guard rail for
    corpora with wider per-dimension dynamic range; a pinned int keeps
    the call action-free and the oracle scale-stable.

    CONTRACT: ``embeddings`` must be the SAME corpus the index was
    built from (the rerank joins survivors back by id) — rebuild the
    index when the corpus changes.
    """
    return _search(
        spark, index_path, queries, embeddings, _SQ8Code, k, rerank, id_col,
        vec_col, round_scale, max_queries, n_probe, "sq8_search",
    )
