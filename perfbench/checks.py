"""Output checks. Each returns ``(attempted, failed)`` in output units.

They run outside every timed span. ``crawl_check`` and ``curate_check``
compare plain Python data, so the benchmark's tests can plant defects
without a Spark session.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations

# ------------------------------------------------------------------- crawl


def crawl_check(engine: dict, reference: dict) -> tuple[int, int]:
    """Per-URL comparison of a crawl against the reference simulator.

    Both arguments hold ``seen`` ({job: set(url)}), ``discovery``
    ({job: {url: (depth, seq)}}) and ``terminal`` ({job: {url: status}}).
    A unit is one (job, url) in either seen set; it fails when the URL is
    missing on one side, or its (depth, discovery_seq) or terminal status
    differs."""
    attempted = failed = 0
    for job in set(engine["seen"]) | set(reference["seen"]):
        e_seen = engine["seen"].get(job, set())
        r_seen = reference["seen"].get(job, set())
        e_disc = engine["discovery"].get(job, {})
        r_disc = reference["discovery"].get(job, {})
        e_term = engine["terminal"].get(job, {})
        r_term = reference["terminal"].get(job, {})
        for url in e_seen | r_seen:
            attempted += 1
            if (
                url not in e_seen
                or url not in r_seen
                or e_disc.get(url) != r_disc.get(url)
                or e_term.get(url) != r_term.get(url)
            ):
                failed += 1
    return attempted, failed


# ---------------------------------------------------------- frontier_kernel


def multiset_diff(got, want) -> int:
    """Rows in one array of row hashes but not the other, counting
    multiplicity: a row emitted twice where the reference has it once
    counts one."""
    import numpy as np

    got, want = np.asarray(got), np.asarray(want)
    values, idx = np.unique(np.concatenate([got, want]), return_inverse=True)
    n_got = np.bincount(idx[:len(got)], minlength=len(values))
    n_want = np.bincount(idx[len(got):], minlength=len(values))
    return int(np.abs(n_got - n_want).sum())


# ------------------------------------------------------------------ curate
# A restatement of the curation chain in plain Python, written from the
# documented semantics of each operator (Spark string functions included:
# ``trim`` strips spaces only, ``\s`` is the Java whitespace class).

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
MINHASH_SEEDS = 12
ROWS_PER_BAND = 3
NEAR_DUP_THRESHOLD = Decimal("0.7")


def _tokens(text: str) -> list[str]:
    return [t for t in _JAVA_WS.split(text.strip(" ")) if t]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _fingerprint(text: str) -> str:
    return _md5(_JAVA_WS.sub(" ", text.strip(" ").lower()))


def _shingles(text: str, k: int = 3) -> frozenset[str]:
    toks = _tokens(text.lower())
    if len(toks) < k:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


def _round4(x: float) -> Decimal:
    return Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)


def _gopher_keep(text: str) -> bool:
    toks = text.lower().split()
    n = len(toks)
    if n == 0:
        return True
    top_tok = max(Counter(toks).values())
    top_big = max(Counter(zip(toks, toks[1:])).values()) if n >= 2 else 0
    top_tri = max(Counter(zip(toks, toks[1:], toks[2:])).values()) if n >= 3 else 0
    n5 = n - 4 if n >= 5 else 0
    d5 = len(set(zip(*(toks[i:] for i in range(5))))) if n >= 5 else 0
    return (
        top_tok / n <= 0.30
        and (n < 2 or top_big / (n - 1) <= 0.20)
        and (n < 3 or top_tri / (n - 2) <= 0.18)
        and (n5 == 0 or (n5 - d5) / n5 <= 0.30)
    )


def curate_reference(docs: dict[str, str], budget: int) -> dict:
    """{doc_id: text} -> the expected curation result.

    exact dedup (min doc_id per fingerprint) -> MinHash-LSH near duplicates
    (12 md5 seeds, 4 bands of 3, exact shingle Jaccard >= 0.7; the larger id
    of each verified pair is dropped) -> Gopher repetition gate -> packing
    in doc_id order. Returns ``packed`` {doc_id: (n_tokens, start_tok,
    first_pack, last_pack)} plus the pair counts."""
    keep_by_fp: dict[str, str] = {}
    for doc_id in sorted(docs):
        keep_by_fp.setdefault(_fingerprint(docs[doc_id]), doc_id)
    survivors = sorted(keep_by_fp.values())

    shingles = {d: _shingles(docs[d]) for d in survivors}
    seed_hashes: dict[str, list[str]] = {}
    buckets: dict[tuple[int, str], list[str]] = {}
    for d in survivors:
        per_shingle = []
        for sh in shingles[d]:
            hs = seed_hashes.get(sh)
            if hs is None:
                hs = seed_hashes[sh] = [_md5(f"{s}|{sh}") for s in range(MINHASH_SEEDS)]
            per_shingle.append(hs)
        mins = [min(col) for col in zip(*per_shingle)]
        for band in range(MINHASH_SEEDS // ROWS_PER_BAND):
            part = sorted(mins[band * ROWS_PER_BAND:(band + 1) * ROWS_PER_BAND])
            buckets.setdefault((band, _md5("|".join(part))), []).append(d)
    candidates = set()
    for ids in buckets.values():
        candidates.update(combinations(sorted(ids), 2))
    dropped = set()
    verified = 0
    for a, b in candidates:
        sa, sb = shingles[a], shingles[b]
        jac = len(sa & sb) / max(len(sa | sb), 1)
        if _round4(jac) >= NEAR_DUP_THRESHOLD:
            verified += 1
            dropped.add(b)
    near_kept = [d for d in survivors if d not in dropped]
    kept = [d for d in near_kept if _gopher_keep(docs[d])]

    packed = {}
    start = 0
    for d in kept:
        n = len(_tokens(docs[d]))
        first = start // budget if n else None
        last = (start + n - 1) // budget if n else None
        packed[d] = (n, start, first, last)
        start += n
    return {
        "packed": packed,
        "exact_survivors": len(survivors),
        "candidate_pairs": len(candidates),
        "verified_pairs": verified,
        "near_dropped": len(dropped),
        "gate_dropped": len(near_kept) - len(kept),
    }


def curate_check(docs: dict[str, str], packed: dict, expected: dict) -> tuple[int, int]:
    """A unit is one input document: it fails when the engine kept a doc the
    reference dropped (or the reverse), or its pack row differs."""
    want = expected["packed"]
    failed = sum(1 for d in docs if packed.get(d) != want.get(d))
    failed += sum(1 for d in packed if d not in docs)
    return len(docs), failed


def kept_check(docs: dict[str, str], kept: set[str], expected: dict) -> tuple[int, int]:
    """Curation without packing. A unit is one input document: it fails when
    the engine kept a doc the reference dropped, or the reverse."""
    want = set(expected["packed"])
    return len(docs), len(kept ^ want)
