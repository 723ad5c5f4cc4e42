"""Block-max WAND: exact top-k BM25 with block-level pruning.

The reference stores skip pointers (skip_offset when df>128,
/root/reference/codec/terms_enumerator.ml:154-161) precisely so posting
iterators can jump blocks; our columnar skip metadata
(first_doc/last_doc/max_tf/min_dl per block) additionally carries what
Block-Max WAND (Ding & Suel 2011, public literature) needs: a per-block
score upper bound idf * tfn(max_tf, min_dl) — valid because BM25 is
monotone increasing in tf and decreasing in dl.

Safety property (tested): returns exactly the exhaustive top-k with
tie-break (score desc, doc_id asc). Pruning predicates are strict
(bound < theta) so boundary ties are always fully evaluated.

Runs single-threaded over numpy block arrays: on a cluster this
executes inside one task per query (the posting lists of a handful of
query terms), while query/exec.py's distributed path handles candidate
sets too big for one task.
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, field

import numpy as np

from ..oracle import B, K1

INF_DOC = 1 << 62


def bm25_scores(idf, tf, dl, avgdl: float):
    """Per-posting BM25 scores (numpy arrays or scalars), associated
    left to right as idf * tf * (K1+1) / den. Every decoded posting
    score and every frontier bound is this one expression: the frontier
    bound is often EXACTLY a real posting's score, and a different
    float association could land one ulp off it."""
    return idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def tfn_ub(max_tf: float, min_dl: float, avgdl: float) -> float:
    return max_tf * (K1 + 1.0) / (max_tf + K1 * (1.0 - B + B * min_dl / avgdl))


def frontier_ub(tfs, dls, avgdl: float, idf: float = 1.0) -> float:
    """EXACT block-max score bound from the stored pareto frontier of
    (tf, dl) posting pairs: max_j idf·tfn(tf_j, dl_j, avgdl). Strictly
    tighter than tfn_ub(max_tf, min_dl) whenever the block's max tf and
    min dl come from different postings (the common case for hot terms,
    where the naive pairing over-bounds and defeats pruning).

    Computed by bm25_scores, as the decoded per-posting scores are: a
    different float association could land 1 ulp *under* a real
    posting's score and prune a boundary-tied doc."""
    tf = np.asarray(tfs, dtype=np.float64)
    dl = np.asarray(dls, dtype=np.float64)
    return float(bm25_scores(idf, tf, dl, avgdl).max())


@dataclass(eq=False)  # identity equality: list.remove on iterator state
class PostingList:
    """One doc-sorted posting unit: a (term, salt-shard) block sequence.

    Positioning is LAZY at block granularity: advancing to a target that
    lands inside an undecoded block records a ``pending`` target instead
    of decoding — ``current_doc`` then reports the lower bound
    max(first_doc, pending) (the real next doc is >= it). The WAND loop
    resolves a lazy position (one block decode) only when it matters:
    for the pivot itself, or to tighten the candidate block-max bound.
    Without this, every skip-jump that lands mid-block in a hot term's
    list decodes the block just to reposition — measured ~100% decode on
    hot+mid queries, the round-2 pruning gap."""

    term: str
    idf: float
    avgdl: float
    # block metadata arrays (sorted by first_doc; doc-disjoint blocks)
    first_doc: np.ndarray
    last_doc: np.ndarray
    ub: np.ndarray  # per-block score upper bound
    payloads: list  # (doc_bytes, tf_bytes, dl_bytes) per block, lazily decoded
    bi: int = 0
    pi: int = 0
    pending: int = 0  # lazy in-block target (0 = exactly positioned)
    docs: np.ndarray | None = None
    scores: np.ndarray | None = None
    decoded_blocks: int = field(default=0)
    cache: dict | None = None  # block_no -> (docs, scores), shared with
    # seed-pass clones so a block decodes at most once per query

    def __post_init__(self):
        # hot-loop representation (r9): the WAND sweep reads block
        # metadata hundreds of thousands of times per query; numpy
        # scalar extraction (arr[i] boxing + int()/float()) was ~40% of
        # the loop (profiled on the all-stopword diagnostic). Plain
        # Python lists hold the EXACT same values (int64 -> int,
        # float64 -> float are exact), so every pruning decision is
        # unchanged — this is representation only.
        fd, ld, ub = self.first_doc, self.last_doc, self.ub
        self._fd = fd.tolist() if hasattr(fd, "tolist") else list(map(int, fd))
        self._ld = ld.tolist() if hasattr(ld, "tolist") else list(map(int, ld))
        self._ubl = ub.tolist() if hasattr(ub, "tolist") else list(map(float, ub))
        self._n = len(self.payloads)
        self._max_ub = max(self._ubl) if self._ubl else 0.0

    @property
    def max_ub(self) -> float:
        # cached: ub is immutable per list; the property was an
        # O(n_blocks) np.max on EVERY pivot's bound accumulation
        return self._max_ub

    def _decode_payload(self) -> tuple[np.ndarray, np.ndarray]:
        """(docs, scores) for the current block — the ONLY piece that
        knows the physical payload encoding. Subclasses decoding other
        layouts (interop/wand_search.py reads Lucene84 .doc blocks)
        override this; every pruning/positioning invariant above stays
        shared and fuzzed once."""
        from ..codecs import pfor
        from ..codecs.delta import delta_decode

        db, tb, lb = self.payloads[self.bi]
        docs = delta_decode(db)
        tf = pfor.decode(tb, docs.size).astype(np.float64)
        dl = pfor.decode(lb, docs.size).astype(np.float64)
        return docs, bm25_scores(self.idf, tf, dl, self.avgdl)

    def _decode(self) -> None:
        hit = self.cache.get(self.bi) if self.cache is not None else None
        if hit is not None:
            self.docs, self.scores = hit
        else:
            self.docs, self.scores = self._decode_payload()
            if self.cache is not None:
                self.cache[self.bi] = (self.docs, self.scores)
            self.decoded_blocks += 1  # cache hits are free, not re-decodes
        # apply any pending lazy target (pending <= block last_doc is an
        # advance_to invariant, so pi lands in range)
        self.pi = (
            int(self.docs.searchsorted(self.pending, side="left"))
            if self.pending
            else 0
        )
        self.pending = 0

    def clone(self) -> "PostingList":
        """Fresh positions over shared payloads + decode cache —
        type-preserving, so subclass iterators keep their payload
        decoder and extra fields through the seed pass."""
        import dataclasses

        return dataclasses.replace(
            self, bi=0, pi=0, pending=0, docs=None, scores=None,
            decoded_blocks=0,
        )

    def exhausted(self) -> bool:
        return self.bi >= self._n

    def current_doc(self) -> int:
        """Smallest possibly-not-yet-consumed docID. Exact when decoded
        or at a block boundary; a LOWER BOUND when lazily positioned
        inside an undecoded block (see is_exact)."""
        if self.bi >= self._n:
            return INF_DOC
        if self.docs is None:
            fd = self._fd[self.bi]
            return fd if fd >= self.pending else self.pending
        return int(self.docs[self.pi])

    def is_exact(self) -> bool:
        """True when current_doc() is a real posting (not a lazy bound)."""
        if self.bi >= self._n or self.docs is not None:
            return True
        return self.pending <= self._fd[self.bi]

    def resolve(self) -> None:
        """Make a lazy position exact (decodes the current block)."""
        if not self.is_exact():
            self._decode()

    def current_block_last(self) -> int:
        return self._ld[self.bi]

    def current_block_ub(self) -> float:
        return self._ubl[self.bi] if self.bi < self._n else 0.0

    def advance_to(self, target: int) -> None:
        """Position at the first posting with doc >= target — lazily:
        whole blocks are skipped via metadata; a target inside an
        undecoded block is recorded as ``pending``, not decoded."""
        if self.pending > target:
            target = self.pending  # never move backward past a lazy target
        ld, n = self._ld, self._n
        while True:
            bi = self.bi
            if bi < n and ld[bi] < target:
                self.docs = None
                self.pending = 0
                bi += 1
                while bi < n and ld[bi] < target:
                    bi += 1
                self.bi = bi
            if bi >= n:
                return
            if self.docs is None:
                # last_doc[bi] >= target here (the invariant _decode uses)
                self.pending = 0 if target <= self._fd[bi] else target
                return
            self.pi = int(self.docs.searchsorted(target, side="left"))
            if self.pi < self.docs.size:
                return
            self.bi = bi + 1
            self.docs = None
            self.pending = 0

    def score_at(self, doc: int) -> float:
        """Score if ``doc`` is present (advances the iterator to doc)."""
        self.advance_to(doc)
        if self.bi >= self._n or self.current_doc() > doc:
            return 0.0
        if self.docs is None:
            # current_doc() <= doc <= last_doc: doc may sit in this
            # block; the score needs the payload either way
            self._decode()
            self.pi = max(self.pi, int(self.docs.searchsorted(doc, side="left")))
            if self.pi >= self.docs.size:
                self.bi += 1
                self.docs = None
                return 0.0
        if int(self.docs[self.pi]) == doc:
            return float(self.scores[self.pi])
        return 0.0

    def contains(self, doc: int) -> bool:
        """Membership probe (advances the iterator): the NOT-clause
        leapfrog — blocks whose [first_doc, last_doc] cannot hold
        ``doc`` are skipped via metadata, never decoded."""
        self.advance_to(doc)
        if self.bi >= self._n or self.current_doc() > doc:
            return False
        if self.docs is None:
            if self.current_doc() != doc:
                # undecoded and lb < doc cannot happen post-advance;
                # lb == doc is the only probe needing a decode
                return False
            self._decode()
            self.pi = max(self.pi, int(self.docs.searchsorted(doc, side="left")))
            if self.pi >= self.docs.size:
                self.bi += 1
                self.docs = None
                return False
        return int(self.docs[self.pi]) == doc


def block_max_wand(
    lists: list[PostingList],
    k: int,
    require_all_terms: set[str] | None = None,
    round_to: int | None = None,
    exclude_lists: list[PostingList] | None = None,
    min_doc: int = 0,
    max_doc: int | None = None,
    term_order: list[str] | None = None,
    min_should_match: int = 0,
    exclude_doc_set=None,
) -> tuple[list[tuple[int, float]], dict]:
    """Exact top-k [(doc_id, score)] over posting lists.

    exclude_doc_set: optional membership object with contains(doc) —
    the deleted-docs filter (DeletedDocSet). Checked wherever the
    NOT-clause exclusion is; metadata-only, nothing iterates it.

    term_order: the QUERY's term order — per-doc scores fold in this
    order (default: first appearance in ``lists``), matching the
    engine-wide _query_order_sum contract so a doc's float sum is
    bit-identical across every physical plan and tie-breaks agree at
    rounded k-boundaries.

    min_should_match: Lucene minimumNumberShouldMatch — a result doc
    must hit at least this many NON-required terms (terms outside
    require_all_terms). A pure evaluation filter: docs pruned by theta
    could never displace qualifying heap entries, so pruning soundness
    is untouched (fuzzed).

    min_doc/max_doc restrict the sweep to docIDs in [min_doc, max_doc]:
    iterators advance (lazily, no decode) to min_doc up front and the
    sweep stops at the first pivot beyond max_doc — the doc-range clip
    behind the parallel WAND plan (exec.bm25_topk_wand_parallel), where
    each task owns one range of a partition of the doc space and local
    exactness per range makes the merged union exact.

    require_all_terms: conjunctive mode — results must hit every term in
    the set (a term may be represented by several salt-shard lists).

    exclude_lists: NOT clause — posting lists whose docs are dropped
    from the results (docID-sorted leapfrog anti-join: each exclusion
    iterator only advances forward and only decodes blocks that might
    contain a surviving pivot, reference skip-data semantics,
    /root/reference/codec/terms_enumerator.ml:154-161).

    round_to: when set, the heap orders by round(score, round_to) (then
    doc_id asc) so the k-boundary tie-break matches the exhaustive paths
    and the SQL oracle, which compare rounded scores. Pruning then uses
    theta - 0.5*10^-round_to: a pruned doc's raw score is strictly below
    that, so its rounded score is strictly below theta — no rounded tie
    at the boundary can be lost.
    """
    heap: list[tuple[float, int]] = []  # (score_key, -doc_id) min-heap
    theta: float | None = None  # kth best score key once heap is full
    eps = 0.5 * 10.0 ** (-round_to) if round_to is not None else 0.0

    def score_key(s: float) -> float:
        return round(s, round_to) if round_to is not None else s

    and_mode = require_all_terms is not None
    if and_mode:
        covered = {pl.term for pl in lists}
        if not (covered >= require_all_terms):
            return [], {"decoded_blocks": 0, "total_blocks": 0, "n_lists": len(lists)}

    fold_order = list(
        dict.fromkeys(term_order if term_order is not None else [pl.term for pl in lists])
    )
    req_set = require_all_terms or set()

    def qualifies(hit: set) -> bool:
        if and_mode and not (hit >= require_all_terms):
            return False
        if min_should_match and len(hit - req_set) < min_should_match:
            return False
        return bool(hit)

    def fold_score(parts: dict[str, float]) -> float:
        """Left fold of the per-term contributions in query-term order
        — the float-determinism contract shared with _query_order_sum."""
        score = 0.0
        for t in fold_order:
            s = parts.get(t)
            if s is not None:
                score += s
        return score

    if min_doc:
        for pl in lists + (exclude_lists or []):
            pl.advance_to(min_doc)  # lazy: whole-block metadata skips only

    # ---- theta seeding -------------------------------------------------
    # The doc-id-ordered sweep wastes evaluations while theta warms up
    # (the heap first fills with low-impact docs; the hot list's blocks
    # all look like contenders until ~k high scores have been seen). So
    # prime: fully evaluate the first k docs of the highest-impact list
    # (AND: the rarest required term's list — every result doc is in it)
    # on CLONED iterators (shared payload refs, fresh positions), push
    # the valid ones, and have the main sweep skip already-seen docs.
    # Every heap entry is a real doc's exact score under the same
    # mode/exclusion rules, so theta stays a valid threshold — seeding
    # changes which docs are evaluated, never what is returned (fuzzed).
    def _clone(pl: PostingList) -> PostingList:
        if pl.cache is None:
            pl.cache = {}  # share decodes between seed pass and main sweep
        return pl.clone()

    seen: set[int] = set()
    seed_lists: list[PostingList] = []
    if lists and k > 0:
        if and_mode:
            blocks_per_term: dict[str, int] = {}
            for pl in lists:
                blocks_per_term[pl.term] = blocks_per_term.get(pl.term, 0) + len(
                    pl.payloads
                )
            seed_term = min(
                require_all_terms, key=lambda t: blocks_per_term.get(t, 1 << 30)
            )
            shard = [pl for pl in lists if pl.term == seed_term]
            seed_src = min(shard, key=lambda pl: int(pl.first_doc[0]))
        else:
            seed_src = max(lists, key=lambda pl: pl.max_ub)
        s_lists = [_clone(pl) for pl in lists]
        s_exc = [_clone(pl) for pl in (exclude_lists or [])]
        src = _clone(seed_src)
        seed_lists = s_lists + s_exc + [src]
        if min_doc:
            for pl in seed_lists:
                pl.advance_to(min_doc)
        for _ in range(k):
            src.resolve()
            if src.exhausted():
                break
            d = src.current_doc()
            if max_doc is not None and d > max_doc:
                break
            parts: dict[str, float] = {}
            for pl in s_lists:
                s = pl.score_at(d)
                if s > 0.0:
                    parts[pl.term] = s  # one shard per term contains d
            hit = set(parts)
            ok = qualifies(hit)
            if ok and s_exc:
                ok = not any(xl.contains(d) for xl in s_exc)
            if ok and exclude_doc_set is not None:
                ok = not exclude_doc_set.contains(d)
            seen.add(d)
            if ok:
                heapq.heappush(heap, (score_key(fold_score(parts)), -d))
            src.advance_to(d + 1)
        if len(heap) >= k:
            theta = heap[0][0]

    while True:
        live = [pl for pl in lists if not pl.exhausted()]
        if not live:
            break
        live.sort(key=lambda pl: pl.current_doc())
        # pivot selection (current_doc may be a lazy lower bound — fine
        # for ordering/accumulation; the chosen pivot is resolved below)
        pivot_pl = None
        if and_mode:
            coverage = set()
            for pl in live:
                coverage.add(pl.term)
                if coverage >= require_all_terms:
                    pivot_pl = pl
                    break
        else:
            acc = 0.0
            for pl in live:
                acc += pl.max_ub
                if theta is None or acc >= theta - eps:  # >= keeps boundary ties
                    pivot_pl = pl
                    break
        if pivot_pl is None:
            break
        if max_doc is not None and pivot_pl.current_doc() > max_doc:
            break  # even the lazy lower bound is past the range: done
        if not pivot_pl.is_exact():
            # the pivot must be a REAL doc before anything hinges on it:
            # resolve (one block decode) and re-select — the exact
            # position may have moved past other lists' bounds
            pivot_pl.resolve()
            continue
        pivot_doc = pivot_pl.current_doc()
        if pivot_doc >= INF_DOC or (max_doc is not None and pivot_doc > max_doc):
            break
        if pivot_doc in seen:
            # already fully evaluated by the seed pass (same deterministic
            # mode/exclusion decision): skip straight past it
            for pl in lists:
                if not pl.exhausted() and pl.current_doc() <= pivot_doc:
                    pl.advance_to(pivot_doc + 1)
            continue
        cand = [pl for pl in live if pl.current_doc() <= pivot_doc]
        # classic WAND leapfrog: every doc strictly below the pivot is
        # provably below theta (the sorted-prefix ub sum up to any list
        # positioned at it is < theta - eps, in both modes), so every
        # candidate advances TO the pivot — lazily (no decode; a decoded
        # block advances by searchsorted). A candidate whose real next
        # doc overshoots leaves the set, tightening the block-max bound:
        # without this, a mid-term list trailing a few docs behind the
        # pivot keeps its ub in the bound at every pivot and hot+mid
        # queries evaluate every mid-term posting (round-2: 514/515
        # blocks decoded).
        if theta is not None:
            for pl in cand:
                if pl.current_doc() < pivot_doc:
                    pl.advance_to(pivot_doc)
            cand = [pl for pl in cand if pl.current_doc() <= pivot_doc]
        # block-max refinement, both modes: strict < so ties survive.
        # Sound in AND mode too: with the jump capped at the next live
        # list's current doc, any doc in (pivot, jump) can only draw
        # contributions from the candidate lists' CURRENT blocks, whose
        # ub sum is exactly the bound tested here.
        #
        # Lazily-positioned candidates make the bound CONSERVATIVE (a
        # lazy list with lb <= pivot may really sit past the pivot), so
        # when it fails to prune, tighten it: resolve the largest-ub
        # lazy candidate and eject it if its real position is past the
        # pivot — this is what lets a hot+mid query skip a mid-term doc
        # whose mid list does not actually reach it, instead of fully
        # evaluating every mid-term posting.
        if theta is not None:
            skipped = False
            while True:
                bm = sum(pl.current_block_ub() for pl in cand)
                if bm < theta - eps:
                    # Safe skip target: past the candidate blocks, but
                    # never past another live list's current doc (for a
                    # lazy list the bound is <= its real doc — safe) —
                    # docs in (pivot, jump) may score from non-candidate
                    # lists, and an uncapped jump would advance candidate
                    # lists past them, losing their contributions.
                    jump = min(pl.current_block_last() for pl in cand) + 1
                    nxt = [
                        pl.current_doc() for pl in live
                        if pl.current_doc() > pivot_doc
                    ]
                    if nxt:
                        jump = min(jump, min(nxt))
                    jump = max(jump, pivot_doc + 1)
                    for pl in cand:
                        pl.advance_to(jump)
                    skipped = True
                    break
                lazy = [pl for pl in cand if not pl.is_exact()]
                exact_bm = sum(
                    pl.current_block_ub() for pl in cand if pl.is_exact()
                )
                if not lazy or exact_bm >= theta - eps:
                    break  # bound holds on exact members alone: evaluate
                lazy.sort(key=lambda pl: -pl.current_block_ub())
                lazy[0].resolve()
                if lazy[0].current_doc() > pivot_doc:
                    cand.remove(lazy[0])
            if skipped:
                continue
        # full evaluation at pivot_doc — with EARLY EXIT: lists are scored
        # in descending block-ub order, and once the running score plus
        # the unscored lists' block ubs cannot reach theta the doc is
        # abandoned (its rounded score is provably below theta, so it
        # could never enter the heap — exactness preserved). This is what
        # keeps a hot term's blocks undecoded at pivots that only carry a
        # mid/rare term: score the informative term first, observe the
        # total can't reach theta, and never touch the stopword's block.
        contrib = [
            pl for pl in lists
            if not pl.exhausted() and pl.current_doc() <= pivot_doc
        ]
        contrib.sort(key=lambda pl: -pl.current_block_ub())
        rem = sum(pl.current_block_ub() for pl in contrib)
        running = 0.0
        parts: dict[str, float] = {}  # term -> its (single) shard's score
        abandoned = False
        for pl in contrib:
            # `rem` is decrementally updated (rem -= ub), so it can drift
            # a few ulps BELOW the true sum of the unscored lists' ubs;
            # with round_to=None eps is 0 and that drift could abandon a
            # doc whose exact score ties theta. Pad the bound by a
            # relative margin (~1e-12, >> accumulated 2^-53-scale error
            # for any realistic query length) to keep it conservative;
            # with eps > 0 the pad is negligible noise.
            bound = (running + rem) * (1.0 + 1e-12)
            if theta is not None and bound < theta - eps:
                abandoned = True
                break
            ub = pl.current_block_ub()
            s = pl.score_at(pivot_doc)
            rem -= ub
            if s > 0.0:
                running += s
                parts[pl.term] = s  # blocks of one term are doc-disjoint
        if not abandoned:
            # fold in QUERY-TERM order (fold_score) — bit-identical to
            # _query_order_sum on the other plans, so rounded k-boundary
            # tie-breaks agree across every physical path
            score = fold_score(parts)
            hit = set(parts)
            ok = qualifies(hit)
            if ok and exclude_lists:
                ok = not any(xl.contains(pivot_doc) for xl in exclude_lists)
            if ok and exclude_doc_set is not None:
                ok = not exclude_doc_set.contains(pivot_doc)
            if ok:
                item = (score_key(score), -pivot_doc)
                if len(heap) < k:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)
                if len(heap) >= k:
                    theta = heap[0][0]
        for pl in lists:
            if not pl.exhausted() and pl.current_doc() <= pivot_doc:
                pl.advance_to(pivot_doc + 1)

    out = sorted(((-d, s) for s, d in heap), key=lambda x: (-x[1], x[0]))
    all_lists = lists + (exclude_lists or [])
    metrics = {
        # seed-pass decodes included: the clones share payloads, so a
        # block decoded in both passes counts twice (honest cost metric)
        "decoded_blocks": sum(pl.decoded_blocks for pl in all_lists)
        + sum(pl.decoded_blocks for pl in seed_lists),
        "total_blocks": sum(len(pl.payloads) for pl in all_lists),
        "n_lists": len(lists),
    }
    return out, metrics


class DeletedDocSet:
    """Sorted-array membership probe with the exclusion-list interface
    (contains()) — carries the index's deleted doc ids (liveDocs
    analogue) into the WAND qualification check. Metadata-only: no
    blocks, nothing to decode."""

    def __init__(self, ids: np.ndarray):
        self.ids = np.asarray(ids, dtype=np.int64)

    def contains(self, doc: int) -> bool:
        i = int(np.searchsorted(self.ids, doc))
        return i < self.ids.size and int(self.ids[i]) == doc
