"""Arrow-vectorized, bit-deterministic linear-algebra kernels.

The similarity module's determinism contract (see ``similarity.py``
module docstring) pins every dot product to a *sequential left-to-right
double-precision fold*: ``acc + (x * y)`` with each product rounded
once, starting from 0.0.  DuckDB's list-fold oracles reproduce that
order, so Spark results hash-match the oracle bit-for-bit.

The pure-Column implementation of that fold (``F.aggregate`` over
``zip_with``) is interpreted per element — a 48-plane projection over a
64-dim vector costs ~3k lambda evaluations per ROW, and the literal
plane matrix (3k double literals) makes the analyzed plan huge.  Both
costs are per-row/per-plan overhead that would dominate at 100 TB.

These kernels compute the SAME arithmetic in numpy over Arrow batches:

- products and additions are separate numpy ufunc calls (no FMA
  contraction), each applying one IEEE-754 rounding — identical to the
  fold's ``x*y`` then ``acc+…``;
- accumulation loops over vector components in ascending index order,
  vectorized ACROSS rows (each row's accumulator sees additions in
  exactly the fold's order);
- float32 inputs are widened to float64 first (exact), matching the
  fold's ``cast("double")``.

Result: bit-identical outputs (asserted in
``tests/test_functions.py::test_vectorized_matches_fold``) at
numpy-elementwise speed, with the coefficient matrix riding in the UDF
closure instead of the plan — the expression tree stays O(1) no matter
how many planes/centroids.

This is the intended 100-TB shape for embedding math on Spark: scans
stay columnar Arrow end-to-end, Python cost is one ufunc sweep per
batch, and nothing is collected to the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _stack(series: pd.Series, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(valid_mask, n_valid x dim float64 matrix) for an Arrow batch of
    ``array<float>`` values.  float32 -> float64 widening is exact."""
    mask = np.array([v is not None and len(v) == dim for v in series], bool)
    if not mask.any():
        return mask, np.empty((0, dim), np.float64)
    mat = np.stack(
        [np.asarray(v, dtype=np.float64) for v, ok in zip(series, mask) if ok]
    )
    return mask, mat


def _seq_rowsums(terms_fn, dim: int, n: int, width: int) -> np.ndarray:
    """``n x width`` accumulator filled by ``width``-wide additions in
    ascending component order — the vectorized-across-rows equivalent of
    ``width`` independent sequential folds per row."""
    acc = np.zeros((n, width), np.float64)
    for j in range(dim):
        acc += terms_fn(j)  # one rounded product set, one rounded add
    return acc


def np_seq_matmul(vals: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """``n x P`` dot products of each row of ``vals`` (n x dim, float64)
    against each row of ``mat`` (P x dim, float64), accumulated in the
    fold's exact order.  The single code path for BOTH the Arrow UDFs
    and driver-side probe computation, so a query vector hashed in the
    driver lands in exactly the bucket its corpus copy got."""
    n, dim = vals.shape
    return _seq_rowsums(
        lambda j: vals[:, j, None] * mat[None, :, j], dim, n, mat.shape[0]
    )


def np_seq_sqnorm(vals: np.ndarray) -> np.ndarray:
    """Row-wise squared norms with the fold's exact operation order."""
    n, dim = vals.shape
    return _seq_rowsums(
        lambda j: (vals[:, j] * vals[:, j])[:, None], dim, n, 1
    )[:, 0]


def seq_matmul(matrix: list[list[float]]):
    """Column function: ``array<float>`` vector -> ``array<double>`` of
    its sequential-fold dot products against every row of ``matrix``.

    Each dot is ``acc + double(vec[j]) * double(m[j])`` folded over
    ``j`` ascending from ``acc = 0.0``: one IEEE double multiply and
    one add per element, additions left-to-right.  One numpy sweep per
    Arrow batch, with the matrix in the UDF closure instead of 10^3
    plan literals.
    """
    mat = np.asarray(matrix, dtype=np.float64)
    width, dim = mat.shape

    @F.pandas_udf("array<double>")
    def dots(v: pd.Series) -> pd.Series:
        mask, vals = _stack(v, dim)
        acc = np_seq_matmul(vals, mat)
        out: list[list[float] | None] = [None] * len(v)
        k = 0
        for i, ok in enumerate(mask):
            if ok:
                out[i] = acc[k].tolist()
                k += 1
        return pd.Series(out)

    return dots


def seq_sqnorm(dim: int):
    """Column function: ``array<float>`` -> double squared norm with the
    fold's exact operation order (``acc + x*x`` ascending)."""

    @F.pandas_udf("double")
    def sq(v: pd.Series) -> pd.Series:
        mask, vals = _stack(v, dim)
        acc = np_seq_sqnorm(vals)
        out = np.full(len(v), np.nan)
        out[mask] = acc
        res = pd.Series(out)
        res[~mask] = None
        return res

    return sq


def seq_pairdot(dim: int):
    """Column function: two ``array<float>`` columns -> double
    sequential-fold dot product, for per-pair re-rank scoring."""

    @F.pandas_udf("double")
    def dot(a: pd.Series, b: pd.Series) -> pd.Series:
        mask_a, va = _stack(a, dim)
        mask_b, vb = _stack(b, dim)
        mask = mask_a & mask_b
        # restack only jointly-valid rows so the matrices align
        if not (mask_a == mask).all() or not (mask_b == mask).all():
            va = np.stack(
                [np.asarray(v, np.float64) for v, ok in zip(a, mask) if ok]
            ) if mask.any() else np.empty((0, dim))
            vb = np.stack(
                [np.asarray(v, np.float64) for v, ok in zip(b, mask) if ok]
            ) if mask.any() else np.empty((0, dim))
        acc = _seq_rowsums(
            lambda j: (va[:, j] * vb[:, j])[:, None], dim, len(va), 1
        )[:, 0]
        out = np.full(len(a), np.nan)
        out[mask] = acc
        res = pd.Series(out)
        res[~mask] = None
        return res

    return dot



def lsh_topk_local(
    planes: list[list[float]],
    tables: list[list[int]],
    probe_map: dict[int, list[int]],
    qids: list[int],
    q_mat: list[list[float]],
    q_sqs: list[float],
    k: int,
    id_col: str,
    vec_col: str,
):
    """mapInPandas function for a fused LSH top-k scan: per Arrow batch,
    hash every corpus vector into its per-table buckets, look up which
    queries probe those buckets (``probe_map`` bucket -> query indexes,
    a small closure table — the multiprobe expansion happened in the
    driver), score ONLY the collided (query, row) pairs with the
    fold-exact kernels, and emit each query's LOCAL top-k.  A partition
    emits at most ``|queries| * k`` rows regardless of scan size; a
    single-shuffle global top-k merges partitions.

    Same (scan -> tiny shuffle) plan shape as brute-force
    ``cosine_topk``, but the scoring work is proportional to the
    candidate rate instead of |queries| * |corpus|.
    """
    P = np.asarray(planes, dtype=np.float64)
    Q = np.asarray(q_mat, dtype=np.float64)
    sqs = np.asarray(q_sqs, dtype=np.float64)
    ids_arr = np.asarray(qids, dtype=np.int64)
    dim = P.shape[1]
    offsets = np.array([t << len(idxs) for t, idxs in enumerate(tables)], np.int64)
    idx_mat = np.asarray(tables, np.int64)
    pow2 = 1 << np.arange(idx_mat.shape[1], dtype=np.int64)

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rid = pdf[id_col].to_numpy(dtype=np.int64)
            mask, vals = _stack(pdf[vec_col], dim)
            bits = (np_seq_matmul(vals, P) > 0).astype(np.int64)
            keys = offsets[None, :] + bits[:, idx_mat] @ pow2
            valid_rows = np.flatnonzero(mask)
            cand_rows: list[list[int]] = [[] for _ in range(len(ids_arr))]
            for local_i, keyrow in enumerate(keys):
                hit: set[int] = set()
                for key in keyrow:
                    for qix in probe_map.get(int(key), ()):
                        hit.add(qix)
                row = int(valid_rows[local_i])
                for qix in hit:
                    cand_rows[qix].append(local_i)
            c_sqs = np_seq_sqnorm(vals)
            out_q, out_n, out_s = [], [], []
            for qix, rows in enumerate(cand_rows):
                if not rows:
                    continue
                rows_a = np.asarray(rows, dtype=np.int64)
                nid = rid[valid_rows[rows_a]]
                keep = nid != ids_arr[qix]
                rows_a, nid = rows_a[keep], nid[keep]
                if len(rows_a) == 0:
                    continue
                dots = np_seq_matmul(vals[rows_a], Q[qix : qix + 1])[:, 0]
                # same op order as the Column path: (q_sq*c_sq), sqrt, div
                sims = np.round(
                    dots / np.sqrt(sqs[qix] * c_sqs[rows_a]), 6
                )
                top = np.lexsort((nid, -sims))[:k]
                out_q.append(np.full(len(top), ids_arr[qix]))
                out_n.append(nid[top])
                out_s.append(sims[top])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    return local_topk


def ivf_topk_local(
    centroids: list[list[float]],
    probe_map: dict[int, list[int]],
    qids: list[int],
    q_mat: list[list[float]],
    q_sqs: list[float],
    k: int,
    id_col: str,
    vec_col: str,
):
    """mapInPandas function for a fused IVF top-k scan: per Arrow batch,
    assign every corpus vector to its nearest coarse cell (rounded
    cosine, ties to the higher cell — exactly
    ``similarity._nearest_cell``), look up which queries probe that cell
    (``probe_map`` cell -> query indexes, ranked in the driver), score
    only those pairs, emit each query's local top-k.  Same fused shape
    as :func:`lsh_topk_local` with the inverted-file as the candidate
    filter."""
    C = np.asarray(centroids, dtype=np.float64)
    Q = np.asarray(q_mat, dtype=np.float64)
    sqs = np.asarray(q_sqs, dtype=np.float64)
    ids_arr = np.asarray(qids, dtype=np.int64)
    dim = C.shape[1]
    n_cells = C.shape[0]
    norms = np_seq_sqnorm(C)

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rid = pdf[id_col].to_numpy(dtype=np.int64)
            mask, vals = _stack(pdf[vec_col], dim)
            c_sqs = np_seq_sqnorm(vals)
            cdots = np_seq_matmul(vals, C)
            scores = np.round(
                cdots / np.sqrt(c_sqs[:, None] * norms[None, :]), 6
            )
            cells = n_cells - 1 - np.argmax(scores[:, ::-1], axis=1)
            valid_rows = np.flatnonzero(mask)
            cand_rows: list[list[int]] = [[] for _ in range(len(ids_arr))]
            for local_i, cell in enumerate(cells):
                for qix in probe_map.get(int(cell), ()):
                    cand_rows[qix].append(local_i)
            out_q, out_n, out_s = [], [], []
            for qix, rows in enumerate(cand_rows):
                if not rows:
                    continue
                rows_a = np.asarray(rows, dtype=np.int64)
                nid = rid[valid_rows[rows_a]]
                keep = nid != ids_arr[qix]
                rows_a, nid = rows_a[keep], nid[keep]
                if len(rows_a) == 0:
                    continue
                dots = np_seq_matmul(vals[rows_a], Q[qix : qix + 1])[:, 0]
                sims = np.round(dots / np.sqrt(sqs[qix] * c_sqs[rows_a]), 6)
                top = np.lexsort((nid, -sims))[:k]
                out_q.append(np.full(len(top), ids_arr[qix]))
                out_n.append(nid[top])
                out_s.append(sims[top])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    return local_topk



def ivfpq_topk_local(
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    luts: list[list[list[float]]],
    probe_map: dict[int, list[int]],
    qids: list[int],
    q_sqs: list[float],
    pool: int,
    id_col: str,
    vec_col: str,
):
    """mapInPandas function for a fused IVF-PQ scan: per Arrow batch,
    assign every corpus vector to its nearest coarse cell (identical to
    :func:`ivf_topk_local`), PQ-encode only the rows some query probes
    (per-subspace L2 argmin against the frozen codebooks), score the
    (query, row) pairs in the COMPRESSED domain via ADC table lookups
    (``luts[qix][m][code]`` — the per-query dot of its subvector with
    each codeword, computed once in the driver), and emit each query's
    local top-``pool``.  No full vector arithmetic happens per pair —
    only M table lookups and one divide — which is the whole point of
    PQ at 100 TB: the scan cost per candidate is O(M), not O(dim).

    Determinism contract (matches the DuckDB oracle bit-for-bit):
    - sub-dots and squared norms are sequential folds (``np_seq_*``);
    - encode score is ``cb_sq[j] - 2*subdot`` (two IEEE ops), argmin
      ties to the LOWEST codeword index;
    - ADC and the reconstructed norm accumulate over subspaces in
      ascending order;
    - approx sim is ``round(adc / sqrt(q_sq * recon_sq), 6)``, ranking
      ties to the lower neighbor id.
    """
    C = np.asarray(centroids, dtype=np.float64)
    CB = [np.asarray(b, dtype=np.float64) for b in codebooks]
    CBSQ = [np_seq_sqnorm(b) for b in CB]
    LUT = np.asarray(luts, dtype=np.float64)  # nq x M x K
    sqs = np.asarray(q_sqs, dtype=np.float64)
    ids_arr = np.asarray(qids, dtype=np.int64)
    dim = C.shape[1]
    n_cells = C.shape[0]
    n_sub = len(CB)
    subdim = CB[0].shape[1]
    cnorms = np_seq_sqnorm(C)

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rid = pdf[id_col].to_numpy(dtype=np.int64)
            mask, vals = _stack(pdf[vec_col], dim)
            c_sqs = np_seq_sqnorm(vals)
            cdots = np_seq_matmul(vals, C)
            scores = np.round(
                cdots / np.sqrt(c_sqs[:, None] * cnorms[None, :]), 6
            )
            cells = n_cells - 1 - np.argmax(scores[:, ::-1], axis=1)
            valid_rows = np.flatnonzero(mask)
            cand_rows: list[list[int]] = [[] for _ in range(len(ids_arr))]
            probed: set[int] = set()
            for local_i, cell in enumerate(cells):
                qs = probe_map.get(int(cell), ())
                if qs:
                    probed.add(local_i)
                for qix in qs:
                    cand_rows[qix].append(local_i)
            if not probed:
                continue
            prows = np.asarray(sorted(probed), dtype=np.int64)
            # PQ-encode the probed rows: per subspace, L2 argmin against
            # the codebook via cb_sq - 2*subdot (ties -> lowest index)
            codes = np.empty((len(prows), n_sub), dtype=np.int64)
            recon = np.zeros(len(prows), np.float64)
            for m in range(n_sub):
                sub = vals[prows][:, m * subdim:(m + 1) * subdim]
                enc = CBSQ[m][None, :] - 2.0 * np_seq_matmul(sub, CB[m])
                codes[:, m] = enc.argmin(axis=1)
                recon += CBSQ[m][codes[:, m]]
            row_pos = {int(r): i for i, r in enumerate(prows)}
            out_q, out_n, out_s = [], [], []
            for qix, rows in enumerate(cand_rows):
                if not rows:
                    continue
                pos = np.asarray([row_pos[r] for r in rows], dtype=np.int64)
                nid = rid[valid_rows[np.asarray(rows, dtype=np.int64)]]
                keep = nid != ids_arr[qix]
                pos, nid = pos[keep], nid[keep]
                if len(pos) == 0:
                    continue
                adc = np.zeros(len(pos), np.float64)
                for m in range(n_sub):
                    adc += LUT[qix, m][codes[pos, m]]
                sims = np.round(adc / np.sqrt(sqs[qix] * recon[pos]), 6)
                top = np.lexsort((nid, -sims))[:pool]
                out_q.append(np.full(len(top), ids_arr[qix]))
                out_n.append(nid[top])
                out_s.append(sims[top])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    return local_topk


def pq_encode_local(
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
):
    """mapInPandas function that builds PQ index rows: per Arrow batch,
    assign each vector its coarse cell (identical arithmetic to
    :func:`ivf_topk_local`) and its packed PQ code — per-subspace L2
    argmin against the frozen codebooks (ties -> lowest codeword, same
    as :func:`ivfpq_topk_local`), nibble-packed into one long
    (``code_m`` in bits ``4m..4m+3``; requires K <= 16).  Emits
    (id, cell, code) — 12 bytes of index payload per vector instead of
    256 bytes of floats."""
    C = np.asarray(centroids, dtype=np.float64)
    CB = [np.asarray(b, dtype=np.float64) for b in codebooks]
    assert all(b.shape[0] <= 16 for b in CB), "nibble packing needs K <= 16"
    CBSQ = [np_seq_sqnorm(b) for b in CB]
    dim = C.shape[1]
    n_sub = len(CB)
    subdim = CB[0].shape[1]
    cnorms = np_seq_sqnorm(C)
    n_cells = C.shape[0]

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rid = pdf[id_col].to_numpy(dtype=np.int64)
            mask, vals = _stack(pdf[vec_col], dim)
            if not mask.any():
                continue
            c_sqs = np_seq_sqnorm(vals)
            cdots = np_seq_matmul(vals, C)
            scores = np.round(
                cdots / np.sqrt(c_sqs[:, None] * cnorms[None, :]), 6
            )
            cells = n_cells - 1 - np.argmax(scores[:, ::-1], axis=1)
            packed = np.zeros(len(vals), np.int64)
            for m in range(n_sub):
                sub = vals[:, m * subdim:(m + 1) * subdim]
                enc = CBSQ[m][None, :] - 2.0 * np_seq_matmul(sub, CB[m])
                packed |= enc.argmin(axis=1).astype(np.int64) << (4 * m)
            yield pd.DataFrame(
                {
                    "vec_id": rid[np.flatnonzero(mask)],
                    "cell": cells.astype(np.int32),
                    "code": packed,
                }
            )

    return encode


def pq_adc_local(
    codebooks: list[list[list[float]]],
    luts: list[list[list[float]]],
    probe_map: dict[int, list[int]],
    qids: list[int],
    q_sqs: list[float],
    pool: int,
):
    """mapInPandas function for the ADC scan over a PQ code index: per
    Arrow batch of (vec_id, cell, code) rows, unpack nibbles, score the
    queries probing each row's cell via LUT lookups + the
    codebook-norm reconstruction, emit per-query local top-``pool``.
    Same arithmetic contract as :func:`ivfpq_topk_local` — the index
    path returns identical results, it just reads ~20x fewer bytes."""
    CB = [np.asarray(b, dtype=np.float64) for b in codebooks]
    CBSQ = [np_seq_sqnorm(b) for b in CB]
    LUT = np.asarray(luts, dtype=np.float64)
    sqs = np.asarray(q_sqs, dtype=np.float64)
    ids_arr = np.asarray(qids, dtype=np.int64)
    n_sub = len(CB)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rid = pdf["vec_id"].to_numpy(dtype=np.int64)
            cells = pdf["cell"].to_numpy(dtype=np.int64)
            packed = pdf["code"].to_numpy(dtype=np.int64)
            codes = np.stack(
                [(packed >> (4 * m)) & 0xF for m in range(n_sub)], axis=1
            )
            recon = np.zeros(len(rid), np.float64)
            for m in range(n_sub):
                recon += CBSQ[m][codes[:, m]]
            cand_rows: list[list[int]] = [[] for _ in range(len(ids_arr))]
            for i, cell in enumerate(cells):
                for qix in probe_map.get(int(cell), ()):
                    cand_rows[qix].append(i)
            out_q, out_n, out_s = [], [], []
            for qix, rows in enumerate(cand_rows):
                if not rows:
                    continue
                pos = np.asarray(rows, dtype=np.int64)
                nid = rid[pos]
                keep = nid != ids_arr[qix]
                pos, nid = pos[keep], nid[keep]
                if len(pos) == 0:
                    continue
                adc = np.zeros(len(pos), np.float64)
                for m in range(n_sub):
                    adc += LUT[qix, m][codes[pos, m]]
                sims = np.round(adc / np.sqrt(sqs[qix] * recon[pos]), 6)
                top = np.lexsort((nid, -sims))[:pool]
                out_q.append(np.full(len(top), ids_arr[qix]))
                out_n.append(nid[top])
                out_s.append(sims[top])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    return score


def fast_cosine_with_norms(
    a: Column, b: Column, sq_a: Column, sq_b: Column, dim: int,
    decimals: int = 6, single_eval: bool = False,
) -> Column:
    """Cosine from precomputed squared norms:
    ``round(dot(a, b) / sqrt(sq_a * sq_b), decimals)``.  The pair dot
    is the sequential fold ``acc + double(a[j]) * double(b[j])`` over
    ``j`` ascending (vectorized per Arrow batch); the multiply, sqrt,
    division and round are single IEEE Column ops.

    ``single_eval=True`` marks the pair-dot UDF non-deterministic so a
    caller that FILTERS on the resulting column does not pay for the
    Arrow pass twice: the optimizer otherwise plants one evaluation
    under the pushed-down filter and a second in the output projection
    (two ArrowEvalPython nodes over the same input — the classic
    duplicated-UDF plan).  The arithmetic is deterministic; the flag
    only fences optimizer duplication, at the cost of blocking other
    filters from pushing past this expression — so it is opt-in for
    exactly the filter-on-sim call sites."""
    dot = seq_pairdot(dim)
    if single_eval:
        dot = dot.asNondeterministic()
    return F.round(dot(a, b) / F.sqrt(sq_a * sq_b), decimals)
