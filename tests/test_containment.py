from imageduplicatefinder_spark.operators import containment as C
from imageduplicatefinder_spark.operators.containment import containment_verify


def _verify(pairs, docs):
    return {(r.src, r.dst): (r.contained, r.contained_canonical, r.offset)
            for r in containment_verify(pairs, docs).collect()}


def test_containment_verify_exact_and_canonical(spark):
    docs = spark.createDataFrame(
        [
            (1, "def f():\n    return 1"),
            (2, "HEADER\n\ndef f():\n    return 1\n\nFOOTER"),       # contains 1
            (3, "def  f():\n  return  1"),                           # ws-variant of 1
            (4, "something else entirely"),
        ],
        "doc_id long, content string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "src long, dst long")
    got = {(r.src, r.dst): r for r in containment_verify(pairs, docs).collect()}
    assert got[(1, 2)].contained and got[(1, 2)].offset == 8
    assert not got[(1, 3)].contained and got[(1, 3)].contained_canonical
    assert not got[(1, 4)].contained and not got[(1, 4)].contained_canonical
    assert got[(1, 4)].offset == -1


def test_containment_empty_small_side(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "anything")], "doc_id long, content string"
    )
    pairs = spark.createDataFrame([(1, 2)], "src long, dst long")
    r = containment_verify(pairs, docs).collect()[0]
    assert r.contained and r.offset == 0  # empty string trivially contained


def test_containment_verify_host_on_either_side(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "X alpha beta Y"),
            (3, "alpha  beta"),
            (4, "nothing shared"),
            (5, "Z X alpha beta Y W"),
        ],
        "doc_id long, content string",
    )
    # (2,3): the bigger host doc 2 sits on the SRC side (smaller doc_id)
    # — the probes must be grouped by the host, not by dst; (4,2)/(2,4)
    # tie on length, so the dst side hosts
    pairs = spark.createDataFrame(
        [(1, 2), (3, 2), (4, 2), (2, 5), (2, 3), (2, 4)], "src long, dst long"
    )
    assert _verify(pairs, docs) == {
        (1, 2): (True, True, 2),
        (3, 2): (False, True, -1),
        (4, 2): (False, False, -1),
        (2, 5): (True, True, 2),
        (2, 3): (False, True, -1),
        (2, 4): (False, False, -1),
    }


def test_containment_null_content_treated_as_empty(spark):
    """NULL content must behave as '' (trivially contained), not abort
    the Arrow task — matching the oracle's coalesce."""
    docs = spark.createDataFrame(
        [(1, None), (2, "anything")], "doc_id long, content string"
    )
    pairs = spark.createDataFrame([(1, 2)], "src long, dst long")
    r = containment_verify(pairs, docs).collect()[0]
    assert r.contained and r.offset == 0


def test_suffix_array_matches_sorted_suffixes_and_find():
    """_suffix_array == naive sorted-suffix order; _sa_find == str.find
    for present and absent patterns (including empty and repeated-hit
    patterns, where first TEXTUAL occurrence != first SA entry)."""
    import random

    from imageduplicatefinder_spark.operators.containment import (
        _sa_find,
        _suffix_array,
    )

    rng = random.Random(42)
    for _ in range(120):
        s = "".join(rng.choice("abAB \t\nxyz") for _ in range(rng.randint(0, 50)))
        sa = _suffix_array(s)
        assert list(sa) == sorted(range(len(s)), key=lambda i: s[i:])
        for _ in range(6):
            if s and rng.random() < 0.7:
                i = rng.randrange(len(s))
                p = s[i : rng.randint(i, len(s))]
            else:
                p = "".join(rng.choice("abq") for _ in range(rng.randint(0, 4)))
            assert _sa_find(s, sa, p) == s.find(p), (s, p)
    s = "ab" * 500  # 499 overlapping hits of "ba": first offset must win
    sa = _suffix_array(s)
    assert _sa_find(s, sa, "ba") == 1
    assert _sa_find(s, sa, "") == 0
    assert _sa_find(s, sa, "ac") == -1


def test_containment_grouped_suffix_array_matches_find(spark, monkeypatch):
    """Forcing the suffix-array probe primitive must be bit-identical
    to the find() path on exact, canonical-only, and miss pairs."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "X alpha beta Y alpha beta Z"),   # two hits: offset = first
            (3, "alpha  \t beta"),                # canonical-only
            (4, "nothing shared"),
            (5, "Z X alpha beta Y W"),
        ],
        "doc_id long, content string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 2), (4, 2), (2, 5), (2, 3), (2, 4)], "src long, dst long"
    )
    plain = _verify(pairs, docs)
    monkeypatch.setattr(C, "SA_MIN_PROBES", 0)
    sa = _verify(pairs, docs)
    assert plain == sa
    assert sa[(1, 2)] == (True, True, 2)


def test_containment_mixed_hosts_pick_primitive_by_probe_count(
    spark, monkeypatch
):
    """At SA_MIN_PROBES = 2 one call mixes both primitives: host 10 has
    four probes, three of them on the canonical path (so both of its
    suffix arrays are built), host 20 has one (find()). Every pair must
    equal the find() answer."""
    host_sa = "ab ab  cd ab ab  cd tail"
    host_find = "one two  three one two  three"
    docs = spark.createDataFrame(
        [
            (10, host_sa),
            (1, "ab ab"),          # repeated hit: offset = first
            (2, "ab cd"),          # canonical-only
            (3, "zz"),             # miss
            (5, "ab cd ab"),       # canonical-only
            (20, host_find),
            (4, "two three"),      # canonical-only
        ],
        "doc_id long, content string",
    )
    pairs = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (10, 5), (4, 20)], "src long, dst long"
    )
    want = {
        (1, 10): (True, True, host_sa.find("ab ab")),
        (2, 10): (False, True, -1),
        (3, 10): (False, False, -1),
        (10, 5): (False, True, -1),
        (4, 20): (False, True, -1),
    }
    assert _verify(pairs, docs) == want
    monkeypatch.setattr(C, "SA_MIN_PROBES", 2)
    assert _verify(pairs, docs) == want


def test_canon_is_explicit_ascii_whitespace_only(spark):
    """_canon collapses exactly [ \\t\\n\\f\\r] (the oracle's regex
    class); \\x0b and Unicode spaces are NOT whitespace here, unlike
    str.split() — cross-engine canonical decisions depend on it."""
    from imageduplicatefinder_spark.operators.containment import _canon

    assert _canon("a \t\n\f\r b") == "a b"
    assert _canon("  x  ") == "x"
    assert _canon("a\x0bb") == "a\x0bb"      # vertical tab preserved
    assert _canon("a\xa0b") == "a\xa0b"      # NBSP preserved


def test_lone_surrogate_host_degrades_to_find(spark, monkeypatch):
    """A host string containing a lone surrogate breaks the utf-32
    encode behind the suffix array; the probe must degrade to find()
    instead of aborting the task (str.find handles surrogates fine)."""
    host = "prefix \ud800 alpha beta suffix"
    assert C._suffix_array_or_none(host) is None
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, host), (3, "missing")],
        "doc_id long, content string",
    )
    pairs = spark.createDataFrame([(1, 2), (3, 2)], "src long, dst long")
    plain = _verify(pairs, docs)
    monkeypatch.setattr(C, "SA_MIN_PROBES", 0)
    got = _verify(pairs, docs)
    assert got == plain
    assert got[(1, 2)] == (True, True, host.find("alpha beta"))
    assert got[(3, 2)] == (False, False, -1)
