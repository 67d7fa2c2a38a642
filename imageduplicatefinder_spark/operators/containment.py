"""Exact containment verification for candidate pairs.

The shingle-set containment score (operators/verify.py) is the cheap
filter; this operator is the exact confirmation pass: for a candidate
pair, is the smaller document literally embedded in the larger one
(optionally after whitespace canonicalization)? This is the
suffix-matching stage of SURVEY §2.4 J3 / north_star "suffix-array
substring matching for containment duplicates".

Implementation note: each pair is checked once in the flat form, so
the optimal primitive there is a single substring scan (CPython's
find() is a tuned two-way/Crochemore-Perrin search — building a
suffix array per pair would cost O(n log n) to answer one O(n+m)
question). A suffix structure pays off only when MANY probes hit one
host; the grouped form (`containment_verify_grouped`) groups candidate
pairs per host document and, once a host attracts enough probes
(``use_suffix_array="auto"``, measured crossover ~12k probes/host —
CPython's find() is a very hard baseline), builds the host's suffix
array ONCE (prefix-doubling, vectorized numpy, O(n log^2 n)) and
answers each probe by binary search in O(m log n) — the north_star's
"suffix-array substring matching for containment duplicates" made
literal, with the crossover to plain find() handled per group.

Runs as applyInPandas over pairs joined with content — Arrow batches
in, one boolean + offset out.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CONTAINMENT_SCHEMA = (
    "src long, dst long, contained boolean, contained_canonical boolean, "
    "offset long"
)


import re

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


def containment_verify(pairs: DataFrame, documents: DataFrame) -> DataFrame:
    """pairs(src, dst) x documents(doc_id, content) -> exact containment.

    Output: (src, dst, contained, contained_canonical, offset) where
    ``contained`` means the smaller content occurs verbatim inside the
    larger, ``offset`` its first position (-1 if absent), and
    ``contained_canonical`` the same after whitespace collapse.
    """
    c = documents.select("doc_id", "content")
    joined = (
        pairs.join(c.select(F.col("doc_id").alias("src"),
                            F.col("content").alias("content_src")), on="src")
        .join(c.select(F.col("doc_id").alias("dst"),
                       F.col("content").alias("content_dst")), on="dst")
    )

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"src": [], "dst": [], "contained": [],
                   "contained_canonical": [], "offset": []}
            for src, dst, ca, cb in zip(
                pdf["src"], pdf["dst"], pdf["content_src"], pdf["content_dst"]
            ):
                # NULL content = empty (the oracle coalesces identically;
                # a None would otherwise abort the whole task)
                ca = ca or ""
                cb = cb or ""
                small, big = (ca, cb) if len(ca) <= len(cb) else (cb, ca)
                off = big.find(small) if small else 0
                canon_hit = off >= 0 or _canon(small) in _canon(big)
                out["src"].append(src)
                out["dst"].append(dst)
                out["contained"].append(off >= 0)
                out["contained_canonical"].append(canon_hit)
                out["offset"].append(off)
            yield pd.DataFrame(out)

    return joined.mapInPandas(check, CONTAINMENT_SCHEMA)


def containment_verify_grouped(
    pairs: DataFrame,
    documents: DataFrame,
    use_suffix_array: bool | str = "auto",
    sa_min_probes: int = 16384,
) -> DataFrame:
    """Grouped form: candidate pairs grouped per larger-side document
    (the HOST — not per dst, which is merely the greater doc_id) so one
    host's content is deserialized and canonicalized once per group
    instead of once per pair (matters when a popular host — a vendored
    library, a big generated file — attracts thousands of candidates,
    regardless of whether its doc_id sorts first or last in the pair).

    ``use_suffix_array``: True forces suffix-array probing, False
    forces find(), "auto" (default) builds the host's suffix array only
    when the group carries >= ``sa_min_probes`` candidate pairs.
    The default crossover is MEASURED, not assumed: on a 1.15 MB host,
    SA build = 4.6 s (4e-6 s/char) while one CPython find() scan =
    0.39 ms (3.4e-10 s/char) and one SA probe = 0.02 ms — both costs
    scale ~linearly with host size, so the break-even is ~12 000 probes
    per host INDEPENDENT of host length; 16384 adds margin. Results
    are bit-identical either way (property-tested); only the probe
    primitive changes.

    Same output schema as containment_verify.
    """
    if use_suffix_array not in (True, False, "auto"):
        # a misspelled mode ("force", "true", ...) must not silently
        # fall through to the find() path
        raise ValueError(
            f"use_suffix_array must be True, False, or 'auto', "
            f"got {use_suffix_array!r}"
        )
    c = documents.select("doc_id", "content")
    joined = (
        pairs.join(c.select(F.col("doc_id").alias("src"),
                            F.col("content").alias("content_src")), on="src")
        .join(c.select(F.col("doc_id").alias("dst"),
                       F.col("content").alias("content_dst")), on="dst")
        .withColumn(
            "host_id",
            # null-safe lengths: NULL content counts as empty, else the
            # NULL comparison would mis-crown the null doc as host
            F.when(
                F.coalesce(F.length("content_dst"), F.lit(0))
                >= F.coalesce(F.length("content_src"), F.lit(0)),
                F.col("dst"),
            ).otherwise(F.col("src")),
        )
    )

    def check_group(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {"src": [], "dst": [], "contained": [],
               "contained_canonical": [], "offset": []}
        # all rows share host_id: canonicalize the host lazily, once
        first = pdf.iloc[0]
        host = (first["content_dst"] if first["dst"] == first["host_id"]
                else first["content_src"]) or ""
        with_sa = use_suffix_array is True or (
            use_suffix_array == "auto" and len(pdf) >= sa_min_probes
        )
        try:
            host_sa = _suffix_array(host) if (with_sa and host) else None
        except UnicodeEncodeError:
            # lone surrogates break the utf-32 encode that backs the SA
            # but are handled fine by str.find — degrade, don't abort
            host_sa = None
        host_canon = None
        host_canon_sa = None
        canon_sa_failed = False
        canon_probes = 0  # canonical path has its OWN crossover count
        for src, dst, ca, cb in zip(
            pdf["src"], pdf["dst"], pdf["content_src"], pdf["content_dst"]
        ):
            small = (ca if dst == first["host_id"] else cb) or ""
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
                # build the canonical SA only once the canonical-path
                # probe count itself crosses the threshold (forced mode
                # builds on first use) — most groups send only a few
                # probes down this path, where `in` is far cheaper
                if host_canon_sa is None and not canon_sa_failed \
                        and host_canon and (
                    use_suffix_array is True
                    or (with_sa and canon_probes >= sa_min_probes)
                ):
                    try:
                        host_canon_sa = _suffix_array(host_canon)
                    except UnicodeEncodeError:
                        canon_sa_failed = True  # degrade to `in` (see above)
                small_c = _canon(small)
                if host_canon_sa is not None:
                    canon_hit = _sa_find(host_canon, host_canon_sa, small_c) >= 0
                else:
                    canon_hit = small_c in host_canon
            out["src"].append(src)
            out["dst"].append(dst)
            out["contained"].append(off >= 0)
            out["contained_canonical"].append(canon_hit)
            out["offset"].append(off)
        return pd.DataFrame(out)

    return (
        joined.groupBy("host_id")
        .applyInPandas(check_group, CONTAINMENT_SCHEMA)
    )


def containment_candidates(
    signatures: DataFrame,
    min_ratio: float = 1.5,
    k_probe: int = 16,
    df_cap: int = 1024,
    return_stats: bool = False,
):
    """Asymmetric-length candidate pre-filter for the "small doc
    embedded in a big host" shape, with QUANTIFIABLE recall.

    MinHash band collisions are the wrong tool here: a snippet fully
    contained in a host 10x its size has Jaccard ~0.1, and 2-row band
    collision probability collapses with J — exactly the pairs this
    operator exists to surface would be missed. Instead: min-wise
    shingle probing. Each doc's ``shingles`` array is stored sorted, so
    its first ``k_probe`` entries are a uniform sample of its shingle
    set; if A is contained in B at containment c, each probe shingle of
    A is in B's set with probability ~c, so
    P(pair missed) <= (1 - c)^k_probe (~3% at c=0.8, k=16; ~1e-7 at
    c=0.9... the verify stage then confirms exactly).

    Scale shape: probe side is k_probe rows/doc (linear); build side is
    every shingle occurrence, with hot boilerplate shingles (document
    frequency > ``df_cap``) DOWN-SAMPLED to ~df_cap surviving
    occurrences via the same deterministic salted threshold as the LSH
    band cap (operators/lsh.py kept_bands_given_hot) — bounded per-key
    join fan-out without dropping a hot shingle entirely; pass
    ``return_stats=True`` to also get the (shingle, df) table of capped
    shingles so the recall loss is visible, not silent. The equi-join
    on the shingle hash replaces the old all-pairs size crossJoin.
    ``signatures`` needs (doc_id, size, shingles); the narrow
    projection is lazily materialized once so the (possibly expensive,
    UDF-produced) signature lineage is not recomputed per consumer.
    """
    sig_narrow = signatures.select("doc_id", "size", "shingles") \
        .localCheckpoint(eager=False)
    occ = sig_narrow.select(
        "doc_id", F.explode("shingles").alias("shingle")
    ).localCheckpoint(eager=False)
    hot = (
        occ.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
    )
    salted = occ.join(F.broadcast(hot), on="shingle", how="left")
    build = salted.filter(
        F.col("df").isNull()
        | (F.pmod(F.xxhash64("doc_id", "shingle"), F.col("df")) < F.lit(df_cap))
    ).select("doc_id", "shingle")
    probes = sig_narrow.select(
        F.col("doc_id").alias("probe_id"),
        F.explode(F.slice("shingles", 1, k_probe)).alias("shingle"),
    )
    pairs = (
        probes.join(build, on="shingle")
        .filter(F.col("probe_id") != F.col("doc_id"))
        .select(
            F.least("probe_id", "doc_id").alias("src"),
            F.greatest("probe_id", "doc_id").alias("dst"),
        )
        .distinct()
    )
    sizes = sig_narrow.select("doc_id", "size")
    withs = (
        pairs.join(sizes.select(F.col("doc_id").alias("src"),
                                F.col("size").alias("size_src")), on="src")
        .join(sizes.select(F.col("doc_id").alias("dst"),
                           F.col("size").alias("size_dst")), on="dst")
    )
    big = F.greatest("size_src", "size_dst").cast("double")
    small = F.least("size_src", "size_dst").cast("double")
    out = (
        withs.withColumn("size_ratio", F.try_divide(big, small))
        .filter(F.col("size_ratio") >= min_ratio)
        .select("src", "dst")
    )
    if return_stats:
        return out, hot
    return out
