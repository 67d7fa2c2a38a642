"""Deterministic synthetic source-code corpus with planted duplicate families.

Shape mandated by BASELINE.json input_hint:
``(repo:string, path:string, commit:string, lang:string, content:string)``.

This is the code-payload analog of the reference's perturbation fixture
corpus (/root/reference/fixtures/: drink.jpg + controlled perturbations;
see FIXTURES.md §3). Each family plants a base file plus variants:

- exact          — byte-identical copy            (~ drink-png re-encode)
- whitespace     — reflowed whitespace            (~ compressed-lightly)
- comment-noise  — inserted/stripped comments     (~ compressed-heavily)
- rename         — consistent identifier rename   (~ hue-shift)
- reorder        — permuted top-level functions   (~ 270cw rotation)
- containment    — base embedded in a larger file (~ watermark)
- decoy          — same lang/shape, different content (must NOT cluster)
- degenerate     — empty / single-token / repeated-char (~ true-grayscale)

Ground-truth duplicate PAIRS (unordered, by (repo,path,commit) key) are
returned alongside — recall is measured on pair sets, matching the
reference's id-agnostic semantics (cluster ids are UUIDs there,
ref: src/main/java/cluster/Clusterer.java:27).

Everything derives from a single integer seed; no wall clock, no
external data.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

LANGS = ("py", "java", "c", "go", "md")

_IDENTS = (
    "buffer index offset cursor window batch shard bucket segment chunk "
    "reader writer parser lexer token stream codec frame header footer "
    "node edge graph tree heap queue stack cache pool arena slab page "
    "count total limit size length width height depth rank order key value"
).split()

_VERBS = "load store parse emit flush merge split scan seek read write sync".split()


def _commit(rng: random.Random) -> str:
    return "".join(rng.choices("0123456789abcdef", k=40))


def _make_function(rng: random.Random, lang: str) -> str:
    """One deterministic pseudo-function; content is lang-flavored text."""
    name = f"{rng.choice(_VERBS)}_{rng.choice(_IDENTS)}"
    args = rng.sample(_IDENTS, k=rng.randint(1, 3))
    body_lines = []
    for _ in range(rng.randint(3, 8)):
        a, b, c = rng.choice(_IDENTS), rng.choice(_IDENTS), rng.randint(0, 255)
        op = rng.choice(["+", "-", "*", "%", "|", "&"])
        body_lines.append(f"    {a} = {b} {op} {c}")
    ret = rng.choice(args)
    if lang == "py":
        head = f"def {name}({', '.join(args)}):"
        tail = f"    return {ret}"
    elif lang in ("java", "c", "go"):
        head = f"long {name}({', '.join('long ' + a for a in args)}) {{"
        tail = f"    return {ret};\n}}"
    else:  # md
        head = f"## {name}"
        tail = f"- returns {ret}"
    return "\n".join([head, *body_lines, tail])


def _make_base(rng: random.Random, lang: str, n_funcs: int) -> list[str]:
    return [_make_function(rng, lang) for _ in range(n_funcs)]


# --- perturbations ----------------------------------------------------------


def _perturb_whitespace(rng: random.Random, funcs: list[str]) -> str:
    out = "\n\n\n".join(f.replace("    ", "\t") for f in funcs)
    return out + "\n" * rng.randint(1, 4)


def _perturb_comments(rng: random.Random, funcs: list[str], lang: str) -> str:
    mark = "#" if lang in ("py", "md") else "//"
    noisy = []
    for f in funcs:
        lines = f.split("\n")
        pos = rng.randint(0, len(lines))
        lines.insert(pos, f"{mark} {rng.choice(_IDENTS)} {rng.choice(_VERBS)} note")
        noisy.append("\n".join(lines))
    return "\n\n".join(noisy)


def _perturb_rename(rng: random.Random, funcs: list[str]) -> str:
    text = "\n\n".join(funcs)
    # consistent rename of up to 2 identifiers that actually occur
    present = [w for w in _IDENTS if w in text]
    for w in rng.sample(present, k=min(2, len(present))):
        text = text.replace(w, w + "x")
    return text


def _perturb_reorder(rng: random.Random, funcs: list[str]) -> str:
    perm = funcs[:]
    rng.shuffle(perm)
    return "\n\n".join(perm)


# --- corpus ----------------------------------------------------------------


@dataclass
class GeneratedCorpus:
    rows: list[tuple[str, str, str, str, str]]  # (repo, path, commit, lang, content)
    #: ground-truth unordered duplicate pairs of row keys "repo/path@commit"
    true_pairs: set[tuple[str, str]] = field(default_factory=set)
    #: keys of containment-only pairs (subset of true_pairs)
    containment_pairs: set[tuple[str, str]] = field(default_factory=set)

    @staticmethod
    def key(repo: str, path: str, commit: str) -> str:
        return f"{repo}/{path}@{commit}"


def generate_corpus(
    n_families: int = 20,
    n_background: int = 200,
    seed: int = 42,
) -> GeneratedCorpus:
    """Plant ``n_families`` duplicate families among ``n_background`` unique files."""
    rng = random.Random(seed)
    rows: list[tuple[str, str, str, str, str]] = []
    true_pairs: set[tuple[str, str]] = set()
    containment_pairs: set[tuple[str, str]] = set()

    def add(repo: str, path: str, lang: str, content: str) -> str:
        commit = _commit(rng)
        rows.append((repo, path, commit, lang, content))
        return GeneratedCorpus.key(repo, path, commit)

    # background: unique files (each its own singleton)
    for i in range(n_background):
        lang = rng.choice(LANGS)
        repo = f"org/background-{i % 17}"
        content = "\n\n".join(_make_base(rng, lang, rng.randint(2, 6)))
        add(repo, f"src/bg_{i}.{lang}", lang, content)

    # duplicate families
    for f in range(n_families):
        lang = rng.choice(LANGS[:4])  # code-ish langs for perturbations
        repo = f"org/family-{f}"
        funcs = _make_base(rng, lang, rng.randint(4, 8))
        base_content = "\n\n".join(funcs)
        members: list[str] = []
        members.append(add(repo, f"src/base_{f}.{lang}", lang, base_content))
        members.append(add(repo, f"src/copy_{f}.{lang}", lang, base_content))  # exact
        members.append(
            add(repo, f"src/ws_{f}.{lang}", lang, _perturb_whitespace(rng, funcs))
        )
        members.append(
            add(repo, f"src/cmt_{f}.{lang}", lang, _perturb_comments(rng, funcs, lang))
        )
        members.append(
            add(repo, f"src/ren_{f}.{lang}", lang, _perturb_rename(rng, funcs))
        )
        members.append(
            add(repo, f"src/ord_{f}.{lang}", lang, _perturb_reorder(rng, funcs))
        )
        # containment: base embedded inside a larger host file. The
        # host joins the family transitively (host<->base containment
        # ~1.0), so ground truth is cluster-level: all pairs among
        # members + host.
        host_extra = "\n\n".join(_make_base(rng, lang, 3))
        host_key = add(
            repo, f"src/host_{f}.{lang}", lang, host_extra + "\n\n" + base_content
        )
        for m in members:
            pair = tuple(sorted((m, host_key)))
            containment_pairs.add(pair)
        members.append(host_key)
        for a, b in itertools.combinations(sorted(members), 2):
            true_pairs.add((a, b))

        # decoy: same repo/lang, genuinely different content
        decoy = "\n\n".join(_make_base(rng, lang, rng.randint(4, 8)))
        add(repo, f"src/decoy_{f}.{lang}", lang, decoy)

    # degenerate rows (solid-color analog, ref: hash/PHashDctTest.java:49-99)
    deg_repo = "org/degenerate"
    add(deg_repo, "empty_a.txt", "md", "")
    add(deg_repo, "empty_b.txt", "md", "")
    add(deg_repo, "one_token.txt", "md", "token")
    add(deg_repo, "solid.txt", "md", "a" * 512)
    # the two empties are exact dups of each other
    empties = sorted(
        GeneratedCorpus.key(r, p, c)
        for (r, p, c, _, content) in rows
        if content == "" and r == deg_repo
    )
    true_pairs.add((empties[0], empties[1]))

    return GeneratedCorpus(rows=rows, true_pairs=true_pairs,
                           containment_pairs=containment_pairs)


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)


def corpus_to_dataframe(spark: SparkSession, corpus: GeneratedCorpus) -> DataFrame:
    return spark.createDataFrame(corpus.rows, schema=DOCUMENTS_SCHEMA)

