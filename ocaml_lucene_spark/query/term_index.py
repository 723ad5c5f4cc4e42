"""In-memory FST term dictionary for hot segments.

The reference funnels every term lookup through its byte-array FST
(codec/fst.ml:203-223 -> block_pointer.ml:9-41), and
so does this engine: at segment open, the sorted terms table compiles
into a minimal FST (fst/transducer.py, Daciuk/Mihov) mapping term ->
ordinal, with df/ttf arrays aligned to the sort order. A segment's
dictionary then answers seek_exact — including the common negative
lookup — from executor/driver memory with ZERO Spark jobs. Every BM25
plan, the plan router and MoreLikeThis take their per-term df from
here (doc_freqs_mem); the terms parquet is read only to compile the
FST, and the cache is keyed by the terms directory's fingerprint, so
a rewritten segment never serves a stale df.

Scale shape: one segment's vocabulary is Heaps-law bounded (~1M terms
per 100M-doc segment); the FST byte array is a few MB and suffix
sharing keeps it compact. On a cluster this object is broadcast once
per hot segment and consulted by every query task.
"""

from __future__ import annotations

import os

import numpy as np

from ..fst.transducer import Fst, FstBuilder
from ..index import segments as seg


class TermIndex:
    """term -> (df, ttf) via FST ordinal + aligned stats arrays."""

    def __init__(self, fst: Fst, dfs: np.ndarray, ttfs: np.ndarray, n_terms: int):
        self.fst = fst
        self.dfs = dfs
        self.ttfs = ttfs
        self.n_terms = n_terms

    def seek_exact(self, term: str) -> tuple[int, int] | None:
        """(df, ttf) if the term exists in this segment, else None."""
        ordinal = self.fst.lookup(term.encode("utf-8"))
        if ordinal is None:
            return None
        return int(self.dfs[ordinal]), int(self.ttfs[ordinal])

    def num_bytes(self) -> int:
        return self.fst.num_bytes() + self.dfs.nbytes + self.ttfs.nbytes


_CACHE: dict[tuple, TermIndex] = {}


def dir_token(path: str) -> tuple:
    """Cheap invalidator for a segment directory: (name, size, mtime_ns)
    of every file. An in-place rebuild (e.g. the wipe-and-rebuild
    self-heal in __spark_entry__) changes it, so the cache can never
    serve stale df/ttf for a rewritten segment."""
    try:
        entries = []
        with os.scandir(path) as it:
            for e in sorted(it, key=lambda e: e.name):
                st = e.stat()
                entries.append((e.name, st.st_size, st.st_mtime_ns))
        return tuple(entries)
    except OSError:
        return ("missing",)


def load_term_index(index_dir: str, segment: str) -> TermIndex:
    """Compile (and cache) a segment's terms table into a TermIndex.

    Reads the terms parquet with pyarrow (no Spark job), sorts in
    memory (files are sorted within themselves only: the segment writer
    does not range-partition them), and feeds the
    FST builder in ascending byte order with the ordinal as output.
    Cache entries are keyed by (path, dir fingerprint) so an in-place
    segment rebuild invalidates them."""
    import pyarrow.parquet as pq

    path = seg.segment_paths(index_dir, segment)["terms"]
    key = (path, dir_token(path))
    if key in _CACHE:
        return _CACHE[key]
    t = pq.read_table(path, columns=["term", "df", "ttf"])
    terms = np.asarray(t.column("term").to_pylist(), dtype=object)
    dfs = t.column("df").to_numpy()
    ttfs = t.column("ttf").to_numpy()
    keys = np.array([s.encode("utf-8") for s in terms], dtype=object)
    order = np.argsort(keys)  # ascending byte order (FST invariant)
    keys, dfs, ttfs = keys[order], dfs[order].copy(), ttfs[order].copy()
    builder = FstBuilder()
    for i, k in enumerate(keys):
        builder.add(bytes(k), int(i))
    ti = TermIndex(builder.finish(), dfs, ttfs, len(keys))
    # evict stale entries for the same path (superseded fingerprints)
    for k in [k for k in _CACHE if k[0] == path]:
        del _CACHE[k]
    _CACHE[key] = ti
    return ti


def _accumulate(out: dict, term: str, ti: TermIndex, ordinal: int) -> None:
    """Add one segment's (df, ttf) for ``term`` to the cross-segment sums."""
    df, ttf = out.get(term, (0, 0))
    out[term] = (df + int(ti.dfs[ordinal]), ttf + int(ti.ttfs[ordinal]))


def all_stats_mem(index_dir: str) -> dict[str, tuple[int, int]]:
    """The full terms dictionary served from memory: term -> (df, ttf)
    aggregated across live segments — the decode_metadata surface
    (reference terms_enumerator.ml:172-196) answered without a Spark
    job. Vocabulary is Heaps-law bounded, so this is a driver/executor-
    memory-sized object even for very large corpora. (= the empty-
    prefix scan: prefix_items(b'') enumerates the whole FST.)"""
    return prefix_stats_mem(index_dir, "")


def prefix_stats_mem(index_dir: str, prefix: str) -> dict[str, tuple[int, int]]:
    """term -> (df, ttf) for every term starting with ``prefix``,
    aggregated across live segments — the PrefixQuery expansion, served
    from the in-memory FSTs with zero Spark jobs (an absent prefix is
    answered instantly, like absent exact terms)."""
    out: dict[str, tuple[int, int]] = {}
    p = prefix.encode("utf-8")
    for row in seg.list_segments(index_dir):
        ti = load_term_index(index_dir, row["segment"])
        for key, ordinal in ti.fst.prefix_items(p):
            _accumulate(out, key.decode("utf-8"), ti, ordinal)
    return out


def range_stats_mem(
    index_dir: str, lo: str, hi: str
) -> dict[str, tuple[int, int]]:
    """term -> (df, ttf) for dictionary terms in [lo, hi) — the terms-
    dict range read (Lucene TermRangeQuery / floor-block walk), served
    from the in-memory FSTs with zero Spark jobs. items() enumerates in
    byte order, so each segment's walk stops at the first term >= hi."""
    out: dict[str, tuple[int, int]] = {}
    lo_b, hi_b = lo.encode("utf-8"), hi.encode("utf-8")
    for row in seg.list_segments(index_dir):
        ti = load_term_index(index_dir, row["segment"])
        for key, ordinal in ti.fst.items():
            if key >= hi_b:
                break  # sorted enumeration: nothing later can match
            if key < lo_b:
                continue
            _accumulate(out, key.decode("utf-8"), ti, ordinal)
    return out


def wildcard_stats_mem(
    index_dir: str, pattern: str
) -> dict[str, tuple[int, int]]:
    """term -> (df, ttf) for dictionary terms matching a Lucene
    WildcardQuery pattern ('*' = any run, '?' = one char; everything
    else literal), from the in-memory dictionaries with zero Spark
    jobs. The pattern translates to an anchored regex (by construction
    inside regex_nfa's supported subset), so the walk is the same
    automaton∩FST intersection as RegexpQuery. Note the honest cost
    model (same as Lucene's): a pattern with a literal head kills whole
    subtrees early, but a leading-'*' keeps the '.*' loop state alive
    on every byte, so the walk visits the full dictionary — correct,
    zero-Spark-jobs, but O(vocab), exactly like Lucene's own
    leading-wildcard caveat."""
    import re

    from ..fst.regex_nfa import compile_nfa

    translated = "".join(
        ".*" if c == "*" else "." if c == "?" else re.escape(c)
        for c in pattern
    )
    rx = re.compile(translated + r"\Z")
    nfa = compile_nfa(translated)
    out: dict[str, tuple[int, int]] = {}
    for row in seg.list_segments(index_dir):
        ti = load_term_index(index_dir, row["segment"])
        for key, ordinal in ti.fst.automaton_items(nfa):
            term = key.decode("utf-8")
            if not rx.match(term):
                continue
            _accumulate(out, term, ti, ordinal)
    return out


def edit_distance_leq(a: str, b: str, k: int) -> bool:
    """Levenshtein(a, b) <= k: full O(len(a)·len(b)) DP rows with an
    early exit once a whole row exceeds k (terms are short, so the
    classic banded-DP / automaton optimizations are not needed here)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > k:
        return False
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        best = i
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            best = min(best, cur[j])
        if best > k:
            return False
        prev = cur
    return prev[lb] <= k


def fuzzy_stats_mem(
    index_dir: str, term: str, max_edits: int = 1, use_automaton: bool = True
) -> dict[str, tuple[int, int]]:
    """FuzzyQuery expansion: term -> (df, ttf) for every dictionary
    term within ``max_edits`` Levenshtein edits, from the in-memory
    dictionaries with zero Spark jobs.

    Default path: Levenshtein automaton ∩ FST (Fst.levenshtein_items —
    a lazy DP-row DFS that prunes whole dictionary subtrees), sub-
    linear in vocabulary for small k: on the 100k-doc bench segment
    (10,022 terms) 3.5 ms vs 102 ms for k=1 (29x) and 14 ms vs 136 ms
    for k=2 (10x). ``use_automaton=False`` keeps the exhaustive
    banded-DP vocabulary scan as an independent reference (the two are
    asserted equal over full dictionaries in tests/test_fst.py)."""
    if not use_automaton:
        return {
            t: v
            for t, v in all_stats_mem(index_dir).items()
            if edit_distance_leq(t, term, max_edits)
        }
    out: dict[str, tuple[int, int]] = {}
    for row in seg.list_segments(index_dir):
        ti = load_term_index(index_dir, row["segment"])
        for key, ordinal in ti.fst.levenshtein_items(term, max_edits):
            _accumulate(out, key.decode("utf-8"), ti, ordinal)
    return out


def _some_prefix_within(term: str, query: str, k: int) -> bool:
    """True when ANY char-level prefix of ``term`` (including the
    empty one) is within k Levenshtein edits of ``query`` — the
    exhaustive FuzzyCompletion acceptance check. One DP over the term:
    row i's last cell is lev(term[:i], query)."""
    m = len(query)
    row = list(range(m + 1))
    if row[m] <= k:
        return True
    for c in term:
        new = [row[0] + 1]
        for j in range(1, m + 1):
            new.append(
                min(row[j] + 1, new[j - 1] + 1, row[j - 1] + (c != query[j - 1]))
            )
        row = new
        if row[m] <= k:
            return True
        if min(row) > k:
            return False
    return False


def fuzzy_prefix_stats_mem(
    index_dir: str, prefix: str, max_edits: int = 1, use_automaton: bool = True
) -> dict[str, tuple[int, int]]:
    """FuzzyCompletionQuery expansion: term -> (df, ttf) for every
    dictionary term some prefix of which is within ``max_edits``
    Levenshtein edits of the typed ``prefix``, from the in-memory
    dictionaries with zero Spark jobs. Default path is the
    subtree-emitting automaton ∩ FST walk (Fst.fuzzy_prefix_items);
    ``use_automaton=False`` keeps the exhaustive per-term DP scan as
    an independent reference (the two are asserted equal over full
    dictionaries in tests/test_fst.py, the fuzzy_stats_mem pattern)."""
    if not use_automaton:
        return {
            t: v
            for t, v in all_stats_mem(index_dir).items()
            if _some_prefix_within(t, prefix, max_edits)
        }
    out: dict[str, tuple[int, int]] = {}
    for row in seg.list_segments(index_dir):
        ti = load_term_index(index_dir, row["segment"])
        for key, ordinal in ti.fst.fuzzy_prefix_items(prefix, max_edits):
            _accumulate(out, key.decode("utf-8"), ti, ordinal)
    return out


def doc_freqs_mem(index_dir: str, terms) -> dict[str, int]:
    """term -> df summed across live segments for each of ``terms`` the
    index holds (absent terms are left out): BM25's df input, from the
    in-memory dictionaries with zero Spark jobs. Deleted docs still
    count until a purging merge rewrites their segment (Lucene's
    docFreq semantics)."""
    terms = list(dict.fromkeys(terms))
    out: dict[str, int] = {}
    for row in seg.list_segments(index_dir):
        ti = load_term_index(index_dir, row["segment"])
        for t in terms:
            hit = ti.seek_exact(t)
            if hit is not None:
                out[t] = out.get(t, 0) + hit[0]
    return out


def seek_exact_mem(index_dir: str, term: str) -> dict | None:
    """seek_exact served purely from in-memory term dictionaries:
    aggregates (df, ttf) across live segments; None (no Spark job at
    all) when the term is absent everywhere."""
    total_df = total_ttf = 0
    for row in seg.list_segments(index_dir):
        hit = load_term_index(index_dir, row["segment"]).seek_exact(term)
        if hit is not None:
            total_df += hit[0]
            total_ttf += hit[1]
    if total_df == 0:
        return None
    return {"term": term, "doc_freq": total_df, "total_term_freq": total_ttf}


def _mandatory_literal_prefix(pattern: str) -> str:
    """Longest literal string every match of the (fully-anchored)
    ``pattern`` must start with — the only prefix that is SOUND as an
    FST subtree bound.

    Extracted from re's own parse tree rather than a raw character
    scan: a quantifier after a literal run folds its preceding char
    into the repeat node (``abc*`` parses to LITERAL a, LITERAL b,
    MAX_REPEAT(0,∞,[c]) → prefix "ab", not the unsound "abc"), and a
    top-level alternation parses to a single BRANCH node (``ab|cd`` →
    prefix "" — both arms must be scanned). A leading repeat with
    min ≥ 1 over a single literal (``ab(c+)d``-style ``c+``) still
    contributes one mandatory copy of its literal before stopping.
    Unparseable patterns yield "" (the caller's re.compile raises the
    real error)."""
    try:
        import re._parser as sre  # CPython >= 3.11
    except ImportError:  # pragma: no cover
        import sre_parse as sre  # type: ignore[no-redef]

    try:
        seq = sre.parse(pattern)
    except Exception:
        return ""
    chars: list[str] = []
    for op, arg in seq:
        name = str(op)
        if name == "LITERAL":
            chars.append(chr(arg))
            continue
        if name in ("MAX_REPEAT", "MIN_REPEAT"):
            lo, _hi, body = arg
            if lo >= 1 and len(body) == 1 and str(body[0][0]) == "LITERAL":
                chars.append(chr(body[0][1]))
        break
    return "".join(chars)


def regexp_stats_mem(
    index_dir: str, pattern: str, use_automaton: bool = True
) -> dict[str, tuple[int, int]]:
    """term -> (df, ttf) for dictionary terms fully matching ``pattern``
    (Lucene RegexpQuery: the regex is anchored at both ends), from the
    in-memory dictionaries with zero Spark jobs.

    Primary path: automaton ∩ FST — the pattern compiles to an NFA
    (fst/regex_nfa, via re's own parse tree) and the FST DFS prunes
    every subtree whose state set dies, Lucene's own RegexpQuery
    strategy and sub-linear in vocabulary (a pattern like ``ab|cd``
    touches only the a- and c-subtrees instead of the whole
    dictionary). Matches are re-checked with re.fullmatch (belt and
    suspenders: the NFA is equality-tested against re in
    tests/test_fst.py, and the recheck is O(matches), not O(vocab)).

    Fallback (unsupported construct, or use_automaton=False): scan the
    subtree under the pattern's MANDATORY literal prefix (parse-tree
    derived — see _mandatory_literal_prefix; a raw
    scan-to-first-metachar is unsound for ``abc*`` / ``ab|cd``) and
    filter with re.fullmatch."""
    import re

    from ..fst.regex_nfa import UnsupportedRegexError, compile_nfa

    rx = re.compile(pattern)
    nfa = None
    if use_automaton:
        try:
            nfa = compile_nfa(pattern)
        except UnsupportedRegexError:
            nfa = None
    p = _mandatory_literal_prefix(pattern).encode("utf-8")
    out: dict[str, tuple[int, int]] = {}
    for row in seg.list_segments(index_dir):
        ti = load_term_index(index_dir, row["segment"])
        items = (
            ti.fst.automaton_items(nfa) if nfa is not None else ti.fst.prefix_items(p)
        )
        for key, ordinal in items:
            term = key.decode("utf-8")
            if not rx.fullmatch(term):
                continue
            _accumulate(out, term, ti, ordinal)
    return out
