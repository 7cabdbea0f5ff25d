"""Seeded inputs for the benchmark workloads, staged once per key.

Every input is a pure function of (workload, sizes, seed, generator
source).  Staged files live under ``<cache>/<name>-<key>/`` where ``key``
hashes those parameters together with the bytes of the generator
sources, so a change to the corpus generator never reuses a stale
corpus.  A directory is published by an atomic rename, so an interrupted
run leaves no half-written input behind.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from kgforge.core.vocab import ENT_TYPES, REL_TYPES, stable_hash
from kgforge.fixtures import gen_repo_rows, golden_triples_for_rows, plant_sentence

REPO_ROOT = Path(__file__).resolve().parent.parent
# generator sources whose bytes key the cache
_GEN_SOURCES = [
    REPO_ROOT / "kgforge" / "fixtures.py",
    REPO_ROOT / "kgforge" / "core" / "vocab.py",
    REPO_ROOT / "kgforge" / "core" / "surrogate.py",
    REPO_ROOT / "kgforge" / "extract" / "units.py",
    Path(__file__).resolve(),
]

REPOS_SCHEMA = pa.schema(
    [(c, pa.string()) for c in ("repo", "path", "commit", "lang", "content")]
)
TRIPLES_ARROW = pa.schema([
    ("repo", pa.string()), ("path", pa.string()), ("commit", pa.string()),
    ("unit_id", pa.int32()), ("subj", pa.string()), ("pred", pa.string()),
    ("obj", pa.string()), ("subj_type", pa.string()),
    ("obj_type", pa.string()), ("score", pa.float64()),
    ("content_sha", pa.string()),
])
GOLDEN_COLUMNS = [
    "repo", "path", "unit_id", "subj", "pred", "obj",
    "subj_type", "obj_type", "content_sha",
]


def cache_key(params: dict) -> str:
    h = hashlib.sha256(json.dumps(params, sort_keys=True).encode())
    for p in _GEN_SOURCES:
        h.update(p.read_bytes())
    return h.hexdigest()[:20]


def staged(cache: Path, params: dict, write) -> tuple[Path, bool]:
    """Return (dir, was_cached); ``write(tmp_dir)`` fills a miss."""
    final = cache / f"{params['name']}-{cache_key(params)}"
    if (final / "_STAGED").exists():
        return final, True
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    write(tmp)
    (tmp / "_STAGED").write_text(json.dumps(params, sort_keys=True))
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final, False


def _write_rows(path: Path, rows: list[dict], schema: pa.Schema, shards: int):
    path.mkdir(parents=True, exist_ok=True)
    step = max(1, -(-len(rows) // shards))
    for i in range(0, len(rows), step):
        table = pa.Table.from_pylist(rows[i : i + step], schema=schema)
        pq.write_table(table, path / f"part-{i // step:04d}.parquet")


# ---------------------------------------------------------------------------
# serve: the repos corpus of kgforge.fixtures plus its golden triples
# ---------------------------------------------------------------------------


def golden_key(t: dict) -> tuple:
    return tuple(t[c] for c in GOLDEN_COLUMNS)


def stage_corpus(cache: Path, name: str, n_files: int, seed: int,
                 min_sents: int, max_sents: int, shards: int) -> Path:
    """repos/ (parquet) + golden.json (the plain-python triple set)."""
    params = {"name": name, "n_files": n_files, "seed": seed,
              "min_sents": min_sents, "max_sents": max_sents,
              "shards": shards}

    def write(d: Path):
        rows = gen_repo_rows(n_files, seed, min_sents=min_sents,
                             max_sents=max_sents)
        _write_rows(d / "repos", rows, REPOS_SCHEMA, shards)
        golden = sorted(golden_key(t) for t in golden_triples_for_rows(rows))
        (d / "golden.json").write_text(json.dumps(golden))

    return staged(cache, params, write)[0]


def load_golden(corpus: Path) -> set[tuple]:
    return {tuple(t) for t in json.loads((corpus / "golden.json").read_text())}


def serve_request(seed: int, index: int, n_sentences: int, lexicon) -> list[dict]:
    """One request: ``n_sentences`` planted sentences as repos rows, one
    sentence per row (lang ``txt`` is a single prose unit)."""
    rng = random.Random(f"serve:{seed}:{index}")
    return [
        {
            "repo": "serve",
            "path": f"req{index}/s{i}",
            "commit": "-",
            "lang": "txt",
            "content": " ".join(plant_sentence(rng, lexicon).tokens),
        }
        for i in range(n_sentences)
    ]


# ---------------------------------------------------------------------------
# maintain: TRIPLES_SCHEMA deltas over a growing, Zipf-skewed vocabulary
# ---------------------------------------------------------------------------

_ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z"]
_VOWELS = ["a", "e", "i", "o", "u"]
_HEADS = ["model", "parser", "encoder", "network", "index", "metric",
          "corpus", "dataset", "sampler", "planner"]
_VARIANT_SUFFIXES = ["system", "variant", "v2"]
VARIANT_SHARE = 0.10
ZIPF_S = 1.1  # exponent of the subjects' Zipf law over the known vocabulary


def vocabulary(n: int, seed: int) -> list[tuple[str, str]]:
    """``n`` distinct (surface, ent_type).  A base surface is a unique
    three-syllable word plus a shared head noun, so two bases share at
    most the head (token Jaccard 1/3, never linked); ~10% are variants
    of an earlier base with one suffix token (Jaccard 2/3, linked)."""
    rng = random.Random(f"vocab:{seed}")
    out: list[tuple[str, str]] = []
    seen: set[str] = set()
    while len(out) < n:
        if out and rng.random() < VARIANT_SHARE:
            base, ent_type = out[rng.randrange(len(out))]
            if len(base.split()) != 2:
                continue
            surface = f"{base} {rng.choice(_VARIANT_SUFFIXES)}"
        else:
            word = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS)
                           for _ in range(3))
            surface = f"{word} {rng.choice(_HEADS)}"
            ent_type = ENT_TYPES[stable_hash("bench-type", word) % len(ENT_TYPES)]
        if surface in seen:
            continue
        seen.add(surface)
        out.append((surface, ent_type))
    return out


def delta_rows(epoch: int, n_triples: int, vocab: list[tuple[str, str]],
               n_known: int, n_new: int, seed: int) -> list[dict]:
    """One epoch's delta over vocab[:n_known + n_new]: subjects follow a
    Zipf law over the known prefix (hub endpoints), a quarter of the
    objects come from the epoch's new slice, the rest are uniform."""
    rng = random.Random(f"delta:{seed}:{epoch}")
    known = vocab[:n_known]
    new = vocab[n_known : n_known + n_new] or known
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(known))]
    subjects = rng.choices(known, weights=weights, k=n_triples)
    rows = []
    for i, (subj, subj_type) in enumerate(subjects):
        pool = new if rng.random() < 0.25 else known
        obj, obj_type = pool[rng.randrange(len(pool))]
        path = f"e{epoch}/f{i // 16}"
        rows.append({
            "repo": f"delta/r{i % 7}",
            "path": path,
            "commit": "-",
            "unit_id": i % 16,
            "subj": subj,
            "pred": REL_TYPES[rng.randrange(len(REL_TYPES))],
            "obj": obj,
            "subj_type": subj_type,
            "obj_type": obj_type,
            "score": 0.9,
            "content_sha": hashlib.sha256(path.encode()).hexdigest(),
        })
    return rows


def stage_deltas(cache: Path, n_epochs: int, n_triples: int, vocab_size: int,
                 initial_vocab: int, seed: int, shards: int) -> Path:
    """epoch=<e>/ parquet of ``n_triples`` rows for e in 0..n_epochs-1
    (epoch 0 seeds the state); the vocabulary grows linearly from
    ``initial_vocab`` to ``vocab_size`` over the epochs."""
    params = {"name": "maintain", "n_epochs": n_epochs,
              "n_triples": n_triples, "vocab_size": vocab_size,
              "initial_vocab": initial_vocab, "seed": seed, "shards": shards}
    step = (vocab_size - initial_vocab) // max(1, n_epochs - 1)

    def write(d: Path):
        vocab = vocabulary(vocab_size, seed)
        for e in range(n_epochs):
            n_known = initial_vocab + step * max(0, e - 1)
            n_new = 0 if e == 0 else step
            rows = delta_rows(e, n_triples, vocab, n_known, n_new, seed)
            _write_rows(d / f"epoch={e}", rows, TRIPLES_ARROW, shards)

    return staged(cache, params, write)[0]
