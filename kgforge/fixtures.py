"""Deterministic synthetic corpus generator (FIXTURES.md).

Emits, in one seeded pass with no wall-clock or external data:
  * ``repos`` rows  — (repo, path, commit, lang, content), one row per file
    of a synthetic source tree; org0/proj0 is a mega-repo holding ~30% of
    all rows to exercise skew salting;
  * ``eval_docs``   — SciERC-format JSONL golden eval set (the reference's
    only vendored corpus format, /root/reference/datasets/scierc/json/*,
    read by data/data_structures.py:71-154; doc-level inclusive indices);
  * golden outputs  — triples/mentions pinned by running the SAME surrogate
    oracle (kgforge.core.surrogate) in plain python over the same units.

The planted grammar (FIXTURES.md §3): each relation sentence is
``[prefix*] SUBJ <gap-pattern> OBJ [suffix*] .`` with entities drawn from
the fixed 500-term lexicon (10% near-dup variants for LSH canonicalization,
entities shared across repos for CC linking).  Distractors: single-entity
sentences, two entities with a non-relational gap, no-entity sentences.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

from .core.surrogate import extract_triples, tokenize
from .core.vocab import (
    ENT_TYPES,
    GAP_PATTERNS,
    GENERIC_ID,
    REL_TYPES,
    build_lexicon,
)
from .extract.units import extract_units_text

# Fillers are disjoint from lexicon syllables/heads and from gap-pattern
# words, so planted gold == surrogate prediction exactly.
_PREFIX_FILL = ["the", "our", "this", "proposed", "novel"]
_SUFFIX_FILL = ["overall", "consistently", "typically", "notably", "moreover"]
_NONREL_GAPS = [("alongside",), ("beside",), ("without",), ("regarding",)]
_PLAIN_WORDS = [
    "we", "show", "that", "strong", "results", "hold", "across", "settings",
    "these", "findings", "remain", "stable", "under", "ablation",
]

_REL_PATTERNS = sorted(GAP_PATTERNS.items(), key=lambda kv: kv[1])  # by rel_id


@dataclass
class PlantedSentence:
    tokens: list[str]
    mentions: list[tuple[int, int, int]] = field(default_factory=list)  # half-open
    relations: list[tuple[tuple[int, int, int], tuple[int, int, int], int]] = field(
        default_factory=list
    )


def _pick_term(rng: random.Random, lexicon) -> tuple[tuple[str, ...], int, int]:
    return lexicon[rng.randrange(len(lexicon))]


def plant_sentence(rng: random.Random, lexicon) -> PlantedSentence:
    """One sentence from the grammar; kind chosen by seeded dice."""
    roll = rng.random()
    toks: list[str] = rng.sample(_PREFIX_FILL, rng.randint(0, 2))
    ments: list[tuple[int, int, int]] = []
    rels: list[tuple[tuple[int, int, int], tuple[int, int, int], int]] = []

    def put(term: tuple[str, ...], t: int) -> tuple[int, int, int]:
        s = len(toks)
        toks.extend(term)
        m = (s, len(toks), t)
        ments.append(m)
        return m

    if roll < 0.55:  # relation sentence
        pat, rel_id = _REL_PATTERNS[rng.randrange(len(_REL_PATTERNS))]
        sub_term, sub_t, _ = _pick_term(rng, lexicon)
        obj_term, obj_t, _ = _pick_term(rng, lexicon)
        while sub_t == GENERIC_ID and obj_t == GENERIC_ID:
            obj_term, obj_t, _ = _pick_term(rng, lexicon)
        sub = put(sub_term, sub_t)
        toks.extend(pat)
        obj = put(obj_term, obj_t)
        rels.append((sub, obj, rel_id))
    elif roll < 0.70:  # two entities, non-relational gap
        a_term, a_t, _ = _pick_term(rng, lexicon)
        b_term, b_t, _ = _pick_term(rng, lexicon)
        put(a_term, a_t)
        toks.extend(rng.choice(_NONREL_GAPS))
        put(b_term, b_t)
    elif roll < 0.85:  # single entity
        t_term, t_t, _ = _pick_term(rng, lexicon)
        put(t_term, t_t)
        toks.extend(rng.sample(_PLAIN_WORDS, rng.randint(1, 3)))
    else:  # no entities
        toks.extend(rng.sample(_PLAIN_WORDS, rng.randint(3, 6)))

    toks.extend(rng.sample(_SUFFIX_FILL, rng.randint(0, 2)))
    toks.append(".")
    return PlantedSentence(toks, ments, rels)


# ---------------------------------------------------------------------------
# eval_docs — SciERC JSONL format (doc-level INCLUSIVE token indices)
# ---------------------------------------------------------------------------


def gen_eval_docs(n_docs: int = 100, seed: int = 7) -> list[dict]:
    rng = random.Random(seed)
    lexicon = build_lexicon()
    docs = []
    for d in range(n_docs):
        n_sents = rng.randint(2, 8)
        sents = [plant_sentence(rng, lexicon) for _ in range(n_sents)]
        offset = 0
        sentences, ner, relations = [], [], []
        for ps in sents:
            sentences.append(ps.tokens)
            ner.append(
                [[offset + s, offset + e - 1, ENT_TYPES[t]] for s, e, t in ps.mentions]
            )
            relations.append(
                [
                    [
                        offset + sub[0], offset + sub[1] - 1,
                        offset + obj[0], offset + obj[1] - 1,
                        REL_TYPES[r],
                    ]
                    for sub, obj, r in ps.relations
                ]
            )
            offset += len(ps.tokens)
        docs.append(
            {
                "doc_key": f"doc_{d:04d}",
                "sentences": sentences,
                "ner": ner,
                "relations": relations,
            }
        )
    return docs


def load_eval_docs_sentences(docs: list[dict]):
    """Flatten SciERC docs -> per-sentence rows with HALF-OPEN sentence-local
    spans (the conversion at /root/reference/data/utils.py:53-56,195-204)."""
    rows = []
    for doc in docs:
        offset = 0
        for ix, toks in enumerate(doc["sentences"]):
            ner = [
                (s - offset, e + 1 - offset, ENT_TYPES.index(t))
                for s, e, t in doc["ner"][ix]
            ]
            rels = [
                (ss - offset, se + 1 - offset, os_ - offset, oe + 1 - offset,
                 REL_TYPES.index(r))
                for ss, se, os_, oe, r in doc["relations"][ix]
            ]
            rows.append(
                {
                    "doc_key": doc["doc_key"],
                    "sent_ix": ix,
                    "tokens": toks,
                    "ner": ner,
                    "relations": rels,
                }
            )
            offset += len(toks)
    return rows


# ---------------------------------------------------------------------------
# repos — the pipeline input table
# ---------------------------------------------------------------------------


def _render_python(sents: list[PlantedSentence], rng: random.Random) -> str:
    doc_sents = [" ".join(ps.tokens) for ps in sents]
    n_doc = max(1, len(doc_sents) - 1)
    docstring = " ".join(doc_sents[:n_doc])
    body = [f'"""{docstring}"""', "", "import os", ""]
    for i, ps in enumerate(sents[n_doc:]):
        body.append(f"# {' '.join(ps.tokens)}")
        ident = "_".join(ps.mentions and ps.tokens[ps.mentions[0][0] : ps.mentions[0][1]] or ["f"])
        body.append(f"def {ident}_{i}():")
        body.append(f"    return {rng.randint(0, 99)}")
        body.append("")
    return "\n".join(body)


def _render_markdown(sents: list[PlantedSentence]) -> str:
    return "\n\n".join(" ".join(ps.tokens) for ps in sents)


def _render_java(sents: list[PlantedSentence]) -> str:
    half = max(1, len(sents) // 2)
    block = " ".join(" ".join(ps.tokens) for ps in sents[:half])
    lines = [f"/* {block} */", "class Mod {"]
    for ps in sents[half:]:
        lines.append(f"  // {' '.join(ps.tokens)}")
    lines.append("}")
    return "\n".join(lines)


def gen_repo_rows(
    n_files: int = 200,
    seed: int = 42,
    min_sents: int = 1,
    max_sents: int = 6,
) -> list[dict]:
    """min/max_sents controls file richness: the default small files suit
    unit tests; the bench staging uses larger files (real source files
    carry tens of comment/docstring sentences)."""
    rng = random.Random(seed)
    lexicon = build_lexicon()
    rows = []
    n_mega = int(n_files * 0.30)
    for i in range(n_files):
        if i < n_mega:
            repo = "org0/proj0"  # the skewed mega-repo
        else:
            repo = f"org{i % 7}/proj{i % 23}"
        lang_roll = rng.random()
        lang = "python" if lang_roll < 0.8 else ("markdown" if lang_roll < 0.9 else "java")
        ext = {"python": "py", "markdown": "md", "java": "java"}[lang]
        path = f"src/pkg{i % 11}/mod{i}.{ext}"
        n_sents = rng.randint(min_sents, max_sents)
        sents = [plant_sentence(rng, lexicon) for _ in range(n_sents)]
        content = {
            "python": lambda: _render_python(sents, rng),
            "markdown": lambda: _render_markdown(sents),
            "java": lambda: _render_java(sents),
        }[lang]()
        commit = hashlib.sha1(f"{repo}/{path}".encode()).hexdigest()
        rows.append(
            {"repo": repo, "path": path, "commit": commit, "lang": lang, "content": content}
        )
    return rows


def golden_triples_for_rows(rows: list[dict]) -> list[dict]:
    """Reference-semantics oracle over the repos corpus: the plain-python
    path (extract_units_text -> extract_triples) whose output the Spark
    pipeline must match at P/R >= 0.95 (it matches exactly — shared core)."""
    from .core.model import get_model

    model = get_model("repos")
    out = []
    for r in rows:
        sha = hashlib.sha256(r["content"].encode()).hexdigest()
        for uid, _kind, text in extract_units_text(r["content"], r["lang"]):
            for sub, obj, rel, st, ot, score in extract_triples(tokenize(text), model):
                out.append(
                    {
                        "repo": r["repo"],
                        "path": r["path"],
                        "commit": r["commit"],
                        "unit_id": uid,
                        "subj": sub,
                        "obj": obj,
                        "pred": REL_TYPES[rel],
                        "subj_type": ENT_TYPES[st],
                        "obj_type": ENT_TYPES[ot],
                        "score": score,
                        "content_sha": sha,
                    }
                )
    return out
