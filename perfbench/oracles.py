"""numpy oracles for the benchmark's outputs, independent of the program.

Each ``check_*`` returns a list of problems; an empty list means the output
is correct. ``self_check_*`` corrupt a correct output and confirm the oracle
rejects it, so a silently permissive oracle cannot pass the benchmark.
"""

from __future__ import annotations

import numpy as np

# float64 answers from a BLAS kernel and from a sequential sum differ in the
# last bits; 1e-9 is far above that and far below any real distance gap.
KTH_TOL = 1e-9
# distances stored in an fvec are float32
DIST_TOL = 1e-5


def read_xvec_np(path: str, dtype: str) -> np.ndarray:
    """Decode a whole xvec file (``[dim:int32][dim x dtype]`` records)."""
    raw = np.fromfile(path, dtype=np.uint8)
    if raw.size == 0:
        return np.empty((0, 0), dtype=dtype)
    dim = int(raw[:4].view("<i4")[0])
    stride = 4 + dim * np.dtype(dtype).itemsize
    if raw.size % stride:
        raise ValueError(f"{path}: size {raw.size} is not a multiple of stride {stride}")
    rows = raw.reshape(-1, stride)
    if not (rows[:, :4].copy().view("<i4") == dim).all():
        raise ValueError(f"{path}: record headers disagree with dim {dim}")
    return rows[:, 4:].copy().view(dtype)


def xvec_bytes(mat: np.ndarray, dtype: str) -> bytes:
    """The exact bytes an xvec writer must produce for ``mat``."""
    body = np.ascontiguousarray(mat, dtype=dtype).view(np.uint8).reshape(len(mat), -1)
    head = np.full((len(mat), 1), mat.shape[1], dtype="<i4").view(np.uint8)
    return np.hstack([head, body]).tobytes()


def cosine_distances(base: np.ndarray, queries: np.ndarray) -> np.ndarray:
    """(len(queries), len(base)) float64 cosine distances."""
    b = base.astype(np.float64)
    q = queries.astype(np.float64)
    dots = q @ b.T
    return 1.0 - dots / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(b, axis=1))


def answer_key(base, queries, k, allowed=None):
    """Exact top-k per query with the (distance, ordinal) tie-break, and each
    query's k-th distance. ``allowed`` (len(queries), len(base)) bool
    restricts query i to the base rows its predicate matches.
    -> (list of index arrays, k-th distances)."""
    dist = cosine_distances(base, queries)
    if allowed is not None:
        dist = np.where(allowed, dist, np.inf)
    keys, kth = [], np.empty(len(queries))
    for i, row in enumerate(dist):
        n = min(k, int(np.isfinite(row).sum()))
        cand = np.argpartition(row, n - 1)[:n]
        cand = cand[np.lexsort((cand, row[cand]))]
        keys.append(cand)
        kth[i] = row[cand[-1]]
    return keys, kth


def check_answer_key(rows, expected, base, k):
    """Check ``rows`` = [(query ordinal, indices, distances)] against
    ``expected`` = {query ordinal: (query vector, k-th distance, allowed
    mask or None)}. Any neighbour set with every member within the k-th
    distance is accepted, so ties at the k-th distance may break either way.
    """
    problems = []
    got = [r[0] for r in rows]
    if sorted(got) != sorted(expected):
        problems.append(f"answer rows {len(got)} != expected {len(expected)} queries")
    for qid, idx, dist in rows:
        if qid not in expected:
            continue
        qvec, kth, allowed = expected[qid]
        idx = np.asarray(idx, dtype=np.int64)
        n_allowed = len(base) if allowed is None else int(allowed.sum())
        if (len(idx) != min(k, n_allowed) or len(np.unique(idx)) != len(idx)
                or len(dist) != len(idx)):
            problems.append(f"query {qid}: {len(idx)} indices and {len(dist)} distances, "
                            f"want {min(k, n_allowed)} distinct")
            continue
        if idx.min() < 0 or idx.max() >= len(base) or (
            allowed is not None and not allowed[idx].all()
        ):
            problems.append(f"query {qid}: index outside the allowed base rows")
            continue
        true = cosine_distances(base[idx], qvec[None, :])[0]
        if (true > kth + KTH_TOL).any():
            problems.append(f"query {qid}: neighbour beyond the k-th distance")
        if np.abs(true - np.asarray(dist, dtype=np.float64)).max() > DIST_TOL:
            problems.append(f"query {qid}: stored distance disagrees with the vectors")
        if (np.diff(true) < -KTH_TOL).any():
            problems.append(f"query {qid}: neighbours not in ascending distance")
    return problems


def self_check_answer_key(rows, expected, base, k) -> dict:
    """Corrupt a correct answer key two ways; each must fail the oracle."""
    qid, idx, dist = rows[0]
    qvec, _, allowed = expected[qid]
    far = cosine_distances(base, qvec[None, :])[0]
    if allowed is not None:
        far = np.where(allowed, far, -np.inf)
    far[np.asarray(idx)] = -np.inf
    swapped = list(idx)
    swapped[len(swapped) // 2] = int(np.argmax(far))
    return {
        "swap_one_index": bool(
            check_answer_key([(qid, swapped, dist)] + rows[1:], expected, base, k)
        ),
        "drop_one_row": bool(check_answer_key(rows[1:], expected, base, k)),
    }


def check_matches(rows, masks: dict) -> list[str]:
    """``rows`` = [(predicate ordinal, matching ordinals)] must list exactly
    the ascending ordinals of each mask; a predicate matching nothing has no
    row."""
    problems = []
    got = {pid: np.asarray(m, dtype=np.int64) for pid, m in rows}
    want = {pid: np.flatnonzero(m) for pid, m in masks.items() if m.any()}
    if sorted(got) != sorted(want):
        problems.append(f"result_indices rows {sorted(got)[:5]}... != {sorted(want)[:5]}...")
    for pid, m in want.items():
        if pid in got and not np.array_equal(got[pid], m):
            problems.append(f"predicate {pid}: result_indices differ")
    return problems


def clean_expectation(vecs: np.ndarray) -> tuple[np.ndarray, int, int]:
    """``cleanfvec`` by numpy: -> (kept ordinals, zero count, duplicate
    count). Zero rows go; of equal rows the lowest ordinal stays."""
    zero = ~vecs.any(axis=1)
    nz = np.flatnonzero(~zero)
    rows = np.ascontiguousarray(vecs[nz]).view(np.dtype((np.void, vecs.shape[1] * vecs.itemsize)))
    _, first = np.unique(rows.ravel(), return_index=True)
    kept = np.sort(nz[first])
    return kept, int(zero.sum()), int(len(nz) - len(kept))


def prep_expectation(fvec_path: str, n: int, dim: int):
    """What one dataset_prep shard must produce, from its fvec by numpy:
    -> (problems with the fvec itself, kept count, exact mvec bytes, zero
    count, duplicate count). The fvec
    must hold ``n`` ``dim``-d vectors with some zeros and duplicates; the mvec
    must hold the float16 cast of exactly the rows ``cleanfvec`` keeps, in
    ordinal order."""
    vecs = read_xvec_np(fvec_path, "<f4")
    if vecs.shape != (n, dim):
        return [f"fvec shape {vecs.shape} != {(n, dim)}"], -1, b"", 0, 0
    kept, zeros, dups = clean_expectation(vecs)
    problems = []
    if zeros == 0 or dups == 0:
        problems.append(f"input has {zeros} zero and {dups} duplicate vectors; want both > 0")
    return problems, len(kept), xvec_bytes(vecs[kept], "<f2"), zeros, dups


def check_prep(mvec: bytes, kept_count: int, want_count: int, want: bytes) -> list[str]:
    """Byte-exact check of one shard's cleaned mvec and its kept count."""
    problems = []
    if kept_count != want_count:
        problems.append(f"clean kept {kept_count} vectors, numpy keeps {want_count}")
    if mvec != want:
        problems.append("mvec bytes differ from the numpy float16 round trip")
    return problems


def self_check_prep(mvec: bytes, kept_count: int) -> dict:
    """Swap two records / drop one record of a correct mvec; each must fail."""
    dim = int(np.frombuffer(mvec[:4], dtype="<i4")[0])
    recs = np.frombuffer(mvec, dtype=np.uint8).reshape(-1, 4 + 2 * dim)
    swapped = recs.copy()
    swapped[[0, 1]] = swapped[[1, 0]]
    return {
        "swap_two_records": bool(check_prep(swapped.tobytes(), kept_count, kept_count, mvec)),
        "drop_one_record": bool(check_prep(recs[1:].tobytes(), kept_count - 1, kept_count, mvec)),
    }
