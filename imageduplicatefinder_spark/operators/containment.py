"""Exact containment verification for candidate pairs.

The shingle-set containment score (operators/verify.py) is the cheap
filter; this operator is the exact confirmation pass: for a candidate
pair, is the smaller document literally embedded in the larger one
(optionally after whitespace canonicalization)? This is the
suffix-matching stage of SURVEY §2.4 J3 / north_star "suffix-array
substring matching for containment duplicates".

Pairs are grouped per HOST (the longer text) so the host's text crosses
into the Python worker once per host, not once per pair. Inside a group
the probe count picks the primitive: below ``SA_MIN_PROBES`` each probe
is one CPython find() (a tuned two-way/Crochemore-Perrin scan); at or
above it the host's suffix array is built once (prefix-doubling,
vectorized numpy, O(n log^2 n)) and each probe is a binary search in
O(m log n). Results are bit-identical either way; only the probe
primitive changes.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CONTAINMENT_SCHEMA = (
    "src long, dst long, contained boolean, contained_canonical boolean, "
    "offset long"
)

#: probes per host at which the host's suffix array replaces find().
#: MEASURED, not assumed: on a 1.15 MB host, SA build = 4.6 s
#: (4e-6 s/char) while one CPython find() scan = 0.39 ms
#: (3.4e-10 s/char) and one SA probe = 0.02 ms — both costs scale ~linearly
#: with host size, so the break-even is ~12 000 probes per host
#: INDEPENDENT of host length; 16384 adds margin. Read on the driver when
#: the plan is built, so tests can monkeypatch it.
SA_MIN_PROBES = 16384

# the EXPLICIT ASCII whitespace class — not str.split() (which collapses
# every Unicode space and \v) and not regex \s (whose membership differs
# between Python re and RE2): this exact set is what the DuckDB oracle's
# regexp_replace uses, so canonical-containment decisions are
# bit-identical cross-engine (queries.py SQL_CONTAINMENT_CONFIRMED)
_WS_RUN = re.compile(r"[ \t\n\f\r]+")


def _canon(s: str) -> str:
    return _WS_RUN.sub(" ", s).strip(" ")


# ---------------------------------------------------------------------------
# suffix array: prefix-doubling construction + first-occurrence search
# ---------------------------------------------------------------------------


def _suffix_array(s: str):
    """Suffix array of ``s`` (int64 start offsets, lexicographic order
    of suffixes). Prefix-doubling with numpy lexsort: O(n log n) work
    per round, O(log n) rounds, all vectorized — no per-character
    Python loop (code points come from the utf-32 encoding, whose
    numeric order IS Python's str comparison order)."""
    import numpy as np

    n = len(s)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    codes = np.frombuffer(s.encode("utf-32-le"), dtype="<u4")  # explicit LE
    rank = np.unique(codes, return_inverse=True)[1].astype(np.int64)
    k = 1
    while True:
        second = np.full(n, -1, dtype=np.int64)
        second[: n - k] = rank[k:]
        sa = np.lexsort((second, rank))
        first_sorted = rank[sa]
        second_sorted = second[sa]
        changed = np.ones(n, dtype=bool)
        changed[1:] = (np.diff(first_sorted) != 0) | (np.diff(second_sorted) != 0)
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[sa] = np.cumsum(changed) - 1
        rank = new_rank
        if rank[sa[-1]] == n - 1:  # all ranks distinct -> fully sorted
            return sa
        k *= 2


def _sa_find(s: str, sa, p: str) -> int:
    """First occurrence offset of ``p`` in ``s`` given ``s``'s suffix
    array (== s.find(p)), -1 if absent. Two binary searches bound the
    SA range of suffixes starting with ``p`` (O(m log n) comparisons),
    then the smallest start offset in that range is the first TEXTUAL
    occurrence."""
    if not p:
        return 0
    n = len(sa)
    m = len(p)
    lo, hi = 0, n
    while lo < hi:
        mid = (lo + hi) // 2
        start = sa[mid]
        if s[start : start + m] < p:
            lo = mid + 1
        else:
            hi = mid
    lo2, hi2 = lo, n
    while lo2 < hi2:
        mid = (lo2 + hi2) // 2
        start = sa[mid]
        if s[start : start + m] > p:
            hi2 = mid
        else:
            lo2 = mid + 1
    if lo == lo2:
        return -1
    return int(sa[lo:lo2].min())


def _suffix_array_or_none(s: str):
    """``_suffix_array(s)``, or None where ``s`` holds a lone surrogate:
    those break the utf-32 encode behind the suffix array but str.find
    handles them fine — degrade, don't abort the task."""
    try:
        return _suffix_array(s)
    except UnicodeEncodeError:
        return None


def _verify_host(host: str, probes, min_probes: int):
    """Yield (src, dst, contained, contained_canonical, offset) for every
    probe of one host. find() or the host's suffix array is picked from
    the probe count; the canonical path has its own count, since most
    groups send only a few probes down it, where `in` is far cheaper."""
    host_sa = (_suffix_array_or_none(host)
               if host and len(probes) >= min_probes else None)
    host_canon = host_canon_sa = None
    canon_probes = 0
    for p in probes:
        small = p["probe"] or ""
        if not small:
            off = 0
        elif host_sa is not None:
            off = _sa_find(host, host_sa, small)
        else:
            off = host.find(small)
        canon_hit = off >= 0
        if not canon_hit:
            if host_canon is None:
                host_canon = _canon(host)
            canon_probes += 1
            # true exactly once: on the canonical probe that reaches the
            # threshold (the first one when the threshold is 0)
            if canon_probes == max(min_probes, 1) and host_canon:
                host_canon_sa = _suffix_array_or_none(host_canon)
            small_c = _canon(small)
            if host_canon_sa is not None:
                canon_hit = _sa_find(host_canon, host_canon_sa, small_c) >= 0
            else:
                canon_hit = small_c in host_canon
        yield p["src"], p["dst"], off >= 0, canon_hit, off


def containment_verify(pairs: DataFrame, documents: DataFrame) -> DataFrame:
    """pairs(src, dst) x documents(doc_id, content) -> exact containment.

    Output: (src, dst, contained, contained_canonical, offset), one row
    per input pair, where ``contained`` means the smaller content occurs
    verbatim inside the larger (the host: the ``dst`` side on a tie),
    ``offset`` its first position (-1 if absent), and
    ``contained_canonical`` the same after whitespace collapse. NULL
    content counts as empty (the oracle coalesces identically).

    Pairs are oriented by a narrow (doc_id, length) join; each pair
    carries only its probe's text, and the host's text is joined once
    onto the host's collected probes.
    """
    min_probes = SA_MIN_PROBES
    docs = documents.select("doc_id", "content")
    lens = docs.select(
        "doc_id", F.coalesce(F.length("content"), F.lit(0)).alias("n")
    )
    # each side joins an alias of ONE frame (not a renamed copy), so
    # the plans are equal and Spark reuses one exchange per frame
    ls, ld, probe, host = (lens.alias("ls"), lens.alias("ld"),
                           docs.alias("probe"), docs.alias("host"))
    dst_hosts = F.col("ld.n") >= F.col("ls.n")
    oriented = (
        pairs.join(ls, F.col("src") == F.col("ls.doc_id"))
        .join(ld, F.col("dst") == F.col("ld.doc_id"))
        .select(
            "src", "dst",
            F.when(dst_hosts, F.col("dst")).otherwise(F.col("src"))
            .alias("host_id"),
            F.when(dst_hosts, F.col("src")).otherwise(F.col("dst"))
            .alias("probe_id"),
        )
    )
    groups = (
        oriented.join(probe, F.col("probe_id") == F.col("probe.doc_id"))
        .groupBy("host_id")
        .agg(F.collect_list(F.struct(
            "src", "dst", F.col("probe.content").alias("probe")
        )).alias("probes"))
        .join(host, F.col("host_id") == F.col("host.doc_id"))
        .select(F.col("host.content").alias("host"), "probes")
    )

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                r
                for text, probes in zip(pdf["host"], pdf["probes"])
                for r in _verify_host(text or "", probes, min_probes)
            ]
            yield pd.DataFrame.from_records(
                rows, columns=["src", "dst", "contained",
                               "contained_canonical", "offset"])

    return groups.mapInPandas(check, CONTAINMENT_SCHEMA)
