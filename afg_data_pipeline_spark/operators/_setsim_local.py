"""Driver-side exact kernels for the set-similarity operators of
``operators/dedup.py``: the exact tier of ``ngram_jaccard_pairs`` and
``minhash_lsh_candidates``.

On a small corpus these operators spend their time in Spark jobs, not
in arithmetic: a per-pair ``array_intersect`` in one task, a band
self-join, a pair-dedup shuffle and two shingle re-joins for a few
hundred candidates. Below ``_LOCAL_MAX_CELLS`` shingle cells the
operators instead collect the per-document shingle arrays once
(``shingle_cells``) and compute the exact result in numpy:

- Spark still computes the shingles, from the same ``tokens`` /
  ``shingle_expr`` / ``array_distinct`` columns as the distributed
  path, so both paths see the same strings. They arrive as Arrow
  (``toArrow``), and Arrow's hash dictionary codes them to ints.
- Ids are ranked with ``np.unique``. It sorts integers by value and
  strings by code point, which is Spark's binary UTF-8 order, so
  ``id_a < id_b`` on ranks is ``id_a < id_b`` in Spark.
- Intersection sizes are exact integer counts. Jaccard is the float64
  quotient of two exact ints, the IEEE operation of Spark's
  ``cast(double) / cast(double)``, and thresholds compare the same
  doubles.
- MinHash hashes each distinct shingle with ``md5(f"{i}|{s}")``, the
  string Spark hashes. Equal digests get equal ranks, and lowercase
  hex orders like Spark's binary string order, so the per-document
  minimum rank is the minimum digest, and two documents share a band
  key exactly when their ranks agree on every index of the band.

Inputs the kernels do not model keep the distributed path: an empty
corpus, a null id, text, group or shingle, an empty shingle array, a
duplicate id, an id or group that is neither integral nor string, and
any corpus over the bound. The result comes back through
``_local_frame.make`` with the distributed path's fields, carrying its
numpy columns; the minhash pairs also carry the corpus ids they were
computed from, and feed ``contrastive_pairs``' kernel. Both paths give
the same rows.
"""

from __future__ import annotations

import hashlib
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegralType,
    StringType,
    StructField,
)

from afg_data_pipeline_spark.operators import _local_frame
from afg_data_pipeline_spark.operators.text import shingle_expr, tokens

#: Shingle cells (one per distinct shingle of a document) up to which
#: both operators run on the driver. A constant, not a budget: one
#: value is in use and both paths return the same rows (tests
#: monkeypatch it). Kernel vs distributed, plan build plus a noop
#: write, best of 3, wall / engine CPU (driver + JVM) seconds,
#: local[2] on a 4-vCPU host. Zipf text over 50,000 words, where
#: distinct shingles are ~70% of cells (md5's worst case): minhash
#: 48k cells 0.74 / 1.06 vs 1.66 / 2.68; 97k 0.95 / 1.74 vs
#: 1.10 / 1.53; 261k 2.50 / 2.71 vs 1.91 / 3.27; 387k 3.40 / 3.51 vs
#: 2.87 / 5.11. ngram (threshold 0.5) 48k 0.31 / 0.35 vs 1.67 / 2.43;
#: 261k in 20 groups 0.61 / 0.65 vs 5.71 / 9.33. sf0.1 documents
#: (256k cells, 931 distinct): minhash 0.83 / 0.87 vs 2.04 / 3.52,
#: ngram 0.84 / 0.87 vs 28.0 / 34.7. The kernels used less CPU at
#: every point; only minhash on near-all-distinct text lost wall time
#: (single-threaded md5 per distinct shingle and index), by up to
#: 1.3x at this bound. An input over the bound pays the gate's one
#: collect job, ~0.7 s wall at this size, before the distributed
#: path runs.
_LOCAL_MAX_CELLS = 1 << 18

#: The kernels' work arrays hold about this many int64 entries at a
#: time (32 MB each).
_CHUNK = 1 << 22


class Cells(NamedTuple):
    """A corpus as the kernels see it. Documents are numbered in
    (group, id) order; the shingle codes of document ``d`` are
    ``code[off[d]:off[d + 1]]``, ascending."""

    ids: np.ndarray  # original id per document
    group: np.ndarray | None  # group code per document, ascending
    groups: np.ndarray | None  # original value per group code
    off: np.ndarray
    code: np.ndarray  # index into ``shingles``
    shingles: pa.Array  # distinct shingle strings
    fields: list  # id and group fields of the input
    source: tuple  # (frame, id column) the cells were collected from


def shingle_cells(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    group_col: str | None = None,
) -> Cells | None:
    """The ``n``-shingle sets of ``df`` from one
    ``limit(_LOCAL_MAX_CELLS + 1)`` collect of (id, [group,] position,
    shingle) rows, or None when the corpus holds more cells or an
    input the kernels do not model (module docstring). The limit makes
    the collect its own size gate."""
    keys = [F.col(id_col).alias("id")]
    if group_col is not None:
        keys.append(F.col(group_col).alias("g"))
    toks = df.select(
        *keys,
        F.col(text_col).isNull().alias("__null"),
        tokens(text_col).alias("__toks"),
    )
    fields = toks.schema.fields[: len(keys)]
    if not all(
        isinstance(f.dataType, (IntegralType, StringType)) for f in fields
    ):
        return None
    # no shingle array for null text: with ANSI off Spark's size(null)
    # is -1, so shingle_expr would turn it into [""]
    sh = F.when(
        ~F.col("__null"), F.array_distinct(shingle_expr("__toks", n))
    )
    tbl = (
        toks.select(
            *[k for k in ("id", "g") if k in toks.columns],
            F.posexplode_outer(sh).alias("pos", "s"),
        )
        .limit(_LOCAL_MAX_CELLS + 1)
        .toArrow()
    )
    # a null pos or s: null text, a null or empty array, a null shingle
    if not 0 < tbl.num_rows <= _LOCAL_MAX_CELLS or any(
        c.null_count for c in tbl.columns
    ):
        return None
    ids, rank = _codes(tbl["id"])
    if np.count_nonzero(tbl["pos"].to_numpy() == 0) != len(ids):
        return None  # a duplicate id
    key = rank.astype(np.int64)
    groups = None
    if group_col is not None:
        groups, g = _codes(tbl["g"])
        key += g * np.int64(len(ids))
    docs, doc = np.unique(key, return_inverse=True)
    shingles = pc.dictionary_encode(tbl["s"].combine_chunks())
    code = shingles.indices.to_numpy()
    off = np.zeros(len(docs) + 1, dtype=np.int64)
    np.cumsum(np.bincount(doc, minlength=len(docs)), out=off[1:])
    return Cells(
        ids[docs % len(ids)],
        None if groups is None else docs // len(ids),
        groups,
        off,
        code[np.lexsort((code, doc))].astype(np.int64),
        shingles.dictionary,
        fields,
        (df, id_col),
    )


def _codes(col):
    """(distinct values in Spark's order, rank per row) of an Arrow
    column: Arrow's hash dictionary finds the distinct values, and
    ``np.unique`` sorts them (integers by value, strings by code
    point)."""
    enc = pc.dictionary_encode(col.combine_chunks())
    vals, rank = np.unique(
        enc.dictionary.to_numpy(zero_copy_only=False), return_inverse=True
    )
    return vals, rank[enc.indices.to_numpy()]


def pair_count(cells: Cells) -> int:
    """Σ_g C(n_g, 2): the pairs the exact tier's group self-join
    generates."""
    n = np.bincount(cells.group)
    return int((n * (n - 1) // 2).sum())


def _run_ends(keys):
    """For each position of the sorted array ``keys``, the end
    (exclusive) of its run of equal values."""
    n = len(keys)
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    return np.repeat(np.r_[starts[1:], n], np.diff(np.r_[starts, n]))


def _followers(ends, at):
    """Every (p, q) with p in ``at`` and p < q < ``ends[p]``: p paired
    with the later positions of its run."""
    cnt = ends[at] - at - 1
    p = np.repeat(at, cnt)
    first = np.cumsum(cnt) - cnt
    return p, p + 1 + np.arange(len(p)) - np.repeat(first, cnt)


def _block_end(cum, start):
    """The end of the block of items that begins at ``start``: items
    are added while their work, cumulated in ``cum`` (one entry per
    item boundary), stays within ``_CHUNK``, and a block holds at least
    one item."""
    end = np.searchsorted(cum, cum[start] + _CHUNK, "right") - 1
    return max(start + 1, end)


def _jaccard(inter, size_a, size_b):
    union = size_a + size_b - inter
    return inter.astype(np.float64) / union.astype(np.float64)


def _renamed(field, name):
    return StructField(name, field.dataType, field.nullable)


def ngram_jaccard_frame(
    spark, cells: Cells, group_col: str, threshold: float
) -> DataFrame:
    """ngram_jaccard_pairs' exact tier: every same-group pair with
    ``id_a < id_b`` and ``jaccard >= threshold``.

    Intersections come from posting lists: with the cells sorted by
    (group, shingle, document), each cell pairs with the later
    documents of its run, and ``np.bincount`` counts those pairs per
    document pair. The counts fill dense (block of documents) ×
    (group) tiles of at most ``_CHUNK`` entries, from blocks of at
    most ``_CHUNK`` posting pairs (one document may exceed that
    alone), so no n × n matrix is ever held. A tile's zeros are the
    pairs that share nothing, which a threshold <= 0 still emits. The
    distributed path's size prefilter is implied: fl(jaccard) >= t
    gives fl(min/max) >= t, because jaccard <= min/max and division
    rounds monotonically.
    """
    off, code, group = cells.off, cells.code, cells.group
    sizes = np.diff(off)
    doc = np.repeat(np.arange(len(sizes)), sizes)
    post = np.lexsort((doc, code, group[doc]))
    pdoc = doc[post]
    ends = _run_ends(
        group[pdoc] * np.int64(len(cells.shingles)) + code[post]
    )
    at = np.empty_like(post)  # posting position of each cell
    at[post] = np.arange(len(post))
    # posting pairs up to the start of each document
    emit = np.zeros(len(at) + 1, dtype=np.int64)
    np.cumsum(ends[at] - at - 1, out=emit[1:])
    emit = emit[off]
    gstart = np.searchsorted(group, np.arange(len(cells.groups) + 1))
    a_parts, b_parts, j_parts = [], [], []
    for g0, g1 in zip(gstart[:-1], gstart[1:]):
        n = g1 - g0
        r0 = g0
        while r0 < g1:
            r1 = min(g1, r0 + max(1, _CHUNK // n), _block_end(emit, r0))
            p, q = _followers(ends, at[off[r0] : off[r1]])
            inter = np.bincount(
                (pdoc[p] - r0) * n + (pdoc[q] - g0),
                minlength=(r1 - r0) * n,
            ).reshape(r1 - r0, n)
            jac = _jaccard(inter, sizes[r0:r1, None], sizes[None, g0:g1])
            later = np.arange(g0, g1) > np.arange(r0, r1)[:, None]
            a, b = np.nonzero(later & (jac >= float(threshold)))
            a_parts.append(a + r0)
            b_parts.append(b + g0)
            j_parts.append(jac[a, b])
            r0 = r1
    a, b, j = (np.concatenate(x) for x in (a_parts, b_parts, j_parts))
    id_f, g_f = cells.fields
    return _local_frame.make(
        spark,
        [
            _renamed(g_f, group_col),
            _renamed(id_f, "id_a"),
            _renamed(id_f, "id_b"),
            StructField("jaccard", DoubleType()),
            StructField("tier", StringType(), False),
        ],
        [
            cells.groups[group[a]],
            cells.ids[a],
            cells.ids[b],
            j,
            np.full(len(a), "exact", dtype=object),
        ],
    )


def _intersections(cells: Cells, a, b):
    """|shingles(a) ∩ shingles(b)| for the document pairs (a, b): each
    cell of a is looked up among b's cells in the sorted
    (document, shingle) keys, ``_CHUNK`` lookups at a time (one
    document may exceed that alone)."""
    off, code = cells.off, cells.code
    sizes = np.diff(off)
    keys = np.repeat(np.arange(len(sizes)), sizes) * np.int64(
        len(cells.shingles)
    ) + code
    out = np.zeros(len(a), dtype=np.int64)
    work = np.zeros(len(a) + 1, dtype=np.int64)
    np.cumsum(sizes[a], out=work[1:])
    i0 = 0
    while i0 < len(a):
        i1 = _block_end(work, i0)
        aa, bb = a[i0:i1], b[i0:i1]
        pair = np.repeat(np.arange(i1 - i0), sizes[aa])
        cell = off[aa][pair] + np.arange(len(pair)) - (
            work[i0:i1] - work[i0]
        )[pair]
        probe = bb[pair] * np.int64(len(cells.shingles)) + code[cell]
        hit = keys[np.searchsorted(keys, probe).clip(max=len(keys) - 1)]
        out[i0:i1] = np.bincount(
            pair, weights=hit == probe, minlength=i1 - i0
        ).astype(np.int64)
        i0 = i1
    return out


def minhash_frame(
    spark,
    cells: Cells,
    n_hashes: int,
    band_size: int,
    threshold: float | None,
) -> DataFrame | None:
    """minhash_lsh_candidates' rows: the document pairs that share a
    band key, ``id_a < id_b``, with their exact Jaccard, thresholded
    last. None when the bands emit more pairs than
    ``_LOCAL_MAX_CELLS`` (hot buckets): like the corpus, the candidate
    set must fit the driver, and the distributed path can spill it."""
    sizes = np.diff(cells.off)
    n_docs = len(sizes)
    n_bands = n_hashes // band_size
    sig = np.empty((n_bands * band_size, n_docs), dtype=np.int64)
    utf8 = cells.shingles.cast(pa.binary()).to_pylist()
    for i in range(len(sig)):
        seed = f"{i}|".encode()
        # the 16 digest bytes of md5(f"{i}|{s}"): as S16 they compare
        # bytewise over all 16 bytes, the order of Spark's hex string
        digests = np.frombuffer(
            b"".join([hashlib.md5(seed + s).digest() for s in utf8]),
            dtype="S16",
        )
        _, rank = np.unique(digests, return_inverse=True)
        sig[i] = np.minimum.reduceat(rank[cells.code], cells.off[:-1])
    pairs, emitted = [], 0
    for band in range(n_bands):
        _, bucket = np.unique(
            sig[band * band_size : (band + 1) * band_size].T,
            axis=0,
            return_inverse=True,
        )
        order = np.argsort(bucket.ravel(), kind="stable")
        ends = _run_ends(bucket.ravel()[order])
        emitted += int((ends - np.arange(n_docs) - 1).sum())
        if emitted > _LOCAL_MAX_CELLS:
            return None
        p, q = _followers(ends, np.arange(n_docs))
        pairs.append(order[p] * np.int64(n_docs) + order[q])
    packed = np.unique(np.concatenate(pairs or [np.zeros(0, np.int64)]))
    a, b = packed // n_docs, packed % n_docs
    inter = _intersections(cells, a, b)
    jac = _jaccard(inter, sizes[a], sizes[b])
    if threshold is not None:
        keep = jac >= float(threshold)
        a, b, jac = a[keep], b[keep], jac[keep]
    (id_f,) = cells.fields
    return _local_frame.make(
        spark,
        [
            _renamed(id_f, "doc_id_a"),
            _renamed(id_f, "doc_id_b"),
            StructField("jaccard", DoubleType()),
        ],
        [cells.ids[a], cells.ids[b], jac],
        read=(*cells.source, cells.ids),
    )
