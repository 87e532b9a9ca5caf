"""Seeded corpora for the benchmark workloads.

The generator is owned by the benchmark: it copies the word list and
the rendering/mutation rules of ``sparkdedup.fixtures`` instead of
importing them, so an edit to the library cannot change the inputs a
benchmark run measures. The program under test only ever receives the
parquet written by :func:`write_corpus`.

Three mixes:

* ``dense``  -- clusters of 10-40 docs, each a 2% token mutation of a
  shared base. Pair Jaccard of word 5-gram shingles sits near the 0.7
  MinHash threshold, so band collisions, candidate edges, connected
  components and the survivor join all do real work.
* ``unique`` -- independent random docs: almost no near-duplicates, so
  signatures dominate and edges/CC/tail are near zero.
* ``fixture`` -- the ``fixtures.generate_code_files`` mix (mega-cluster,
  exact groups, near-dup clusters at several mutation rates, license
  headers, boilerplate lines, short and unicode docs).

Every mix also plants exact-duplicate groups whose base text is drawn
from a separate vocabulary of random letter strings. Such a group shares
no shingles with any other document, so the dedup invariant for it is
exact: one survivor, the group's minimum id.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from typing import Dict, List

import numpy as np
import pandas as pd

_VOCAB = (
    "def class return import from self init args kwargs value result data "
    "index count total buffer stream reader writer parse token node tree "
    "graph edge vertex hash map list set dict tuple str int float bool "
    "error raise try except finally with open close read write append "
    "config options params request response client server handler route "
    "test assert expect mock fixture setup teardown batch chunk shard "
    "partition shuffle merge sort filter reduce fold scan join union "
    "commit branch diff patch blob index remote fetch push pull clone"
).split()

_LICENSE_HEADER = (
    "Licensed under the Apache License Version 2.0 you may not use this file "
    "except in compliance with the License You may obtain a copy of the "
    "License at http apache org licenses LICENSE 2.0 Unless required by "
    "applicable law or agreed to in writing software distributed under the "
    "License is distributed on an AS IS BASIS WITHOUT WARRANTIES OR "
    "CONDITIONS OF ANY KIND either express or implied"
)

_BOILERPLATE_LINES = [
    "import os",
    "import sys",
    "from typing import List",
    "# -*- coding: utf-8 -*-",
    "if __name__ == '__main__':",
    "    main()",
]

_LANGS = ["python", "java", "c", "go", "js", "md"]
_EXT = {"python": "py", "java": "java", "c": "c", "go": "go", "js": "js", "md": "md"}
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

MIXES = ("dense", "unique", "fixture")
EXACT_SHARE = 0.02


@dataclass
class Corpus:
    """A generated document table plus what was planted in it."""

    docs: pd.DataFrame  # doc_id, repo, path, commit, lang, content
    exact_groups: List[List[int]] = field(default_factory=list)

    def digest(self) -> str:
        """sha256 over (doc_id, content) in id order: equal digests mean
        byte-identical program input."""
        h = hashlib.sha256()
        for doc_id, content in zip(self.docs["doc_id"].tolist(), self.docs["content"].tolist()):
            h.update(f"{doc_id}\0{len(content)}\0".encode())
            h.update(content.encode())
        return h.hexdigest()


def _tokens(rng: np.random.RandomState, n: int) -> List[str]:
    return [_VOCAB[i] for i in rng.randint(0, len(_VOCAB), size=n)]


def _render(tokens: List[str], rng: np.random.RandomState) -> str:
    lines: List[str] = []
    i = 0
    while i < len(tokens):
        w = int(rng.randint(6, 12))
        lines.append(" ".join(tokens[i : i + w]))
        i += w
    return "\n".join(lines)


def _mutate(tokens: List[str], rate: float, rng: np.random.RandomState) -> List[str]:
    out = list(tokens)
    n_mut = max(1, int(len(tokens) * rate))
    for p in rng.choice(len(tokens), size=min(n_mut, len(tokens)), replace=False):
        out[p] = _VOCAB[int(rng.randint(0, len(_VOCAB)))]
    return out


def _foreign_text(rng: np.random.RandomState, n_tokens: int) -> str:
    """Text over random 5-9 letter words: disjoint from ``_VOCAB``."""
    lens = rng.randint(5, 10, size=n_tokens)
    letters = _LETTERS[rng.randint(0, 26, size=int(lens.sum()))]
    words, pos = [], 0
    for n in lens:
        words.append("".join(letters[pos : pos + n]))
        pos += n
    return _render(words, rng)


def _dense(n: int, rng: np.random.RandomState) -> List[str]:
    out: List[str] = []
    while len(out) < n:
        base = _tokens(rng, int(rng.randint(80, 240)))
        for _ in range(min(int(rng.randint(10, 41)), n - len(out))):
            out.append(_render(_mutate(base, 0.02, rng), rng))
    return out


def _unique(n: int, rng: np.random.RandomState) -> List[str]:
    return [_render(_tokens(rng, int(rng.randint(30, 250))), rng) for _ in range(n)]


def _fixture(n: int, rng: np.random.RandomState) -> List[str]:
    """The ``fixtures.generate_code_files`` mix, minus its exact groups
    (planted separately by :func:`generate`)."""
    out: List[str] = []
    mega = _tokens(rng, 400)
    out += [_render(_mutate(mega, 0.01, rng), rng) for _ in range(max(4, n // 20))]
    rates = [0.01, 0.03, 0.05, 0.08, 0.12, 0.2, 0.35]
    for ci in range(max(4, n // 25)):
        base = _tokens(rng, int(rng.randint(60, 300)))
        out += [
            _render(_mutate(base, rates[ci % len(rates)], rng), rng)
            for _ in range(int(rng.randint(2, 8)))
        ]
    for _ in range(max(4, n // 50)):
        out.append(_LICENSE_HEADER + "\n" + _render(_tokens(rng, int(rng.randint(50, 150))), rng))
        out.append(_LICENSE_HEADER + "\n" + _render(_tokens(rng, int(rng.randint(50, 150))), rng))
        out.append("short shared header line\n" + _render(_tokens(rng, 60), rng))
    for _ in range(max(4, n // 50)):
        body = _render(_tokens(rng, int(rng.randint(40, 120))), rng)
        k = int(rng.randint(1, len(_BOILERPLATE_LINES)))
        out.append("\n".join(_BOILERPLATE_LINES[:k]) + "\n" + body)
        out.append(
            "\n".join(line.upper().replace("2", "7") for line in _BOILERPLATE_LINES[:k]) + "\n" + body
        )
    out += [" ".join(_tokens(rng, int(rng.randint(1, 4)))) for _ in range(max(3, n // 100))]
    uni = ["naïve", "séquence", "数据", "токен", "emoji😀", "ключ"]
    for i in range(max(3, n // 100)):
        toks = _tokens(rng, 50) + [uni[i % len(uni)]] * 5
        rng.shuffle(toks)
        out.append(_render(toks, rng))
    while len(out) < n:
        out.append(_render(_tokens(rng, int(rng.randint(30, 250))), rng))
    return out[:n]


_BODIES = {"dense": _dense, "unique": _unique, "fixture": _fixture}


def generate(mix: str, n_docs: int, seed: int) -> Corpus:
    """``n_docs`` documents of ``mix``; about ``EXACT_SHARE`` of them are
    members of planted exact-duplicate groups (2-4 copies each)."""
    if mix not in _BODIES:
        raise ValueError(f"unknown corpus mix {mix!r}; expected one of {MIXES}")
    rng = np.random.RandomState(seed)
    groups: List[List[str]] = []
    n_exact = 0
    while n_exact < int(n_docs * EXACT_SHARE):
        k = int(rng.randint(2, 5))
        groups.append([_foreign_text(rng, int(rng.randint(40, 160)))] * k)
        n_exact += k
    contents = _BODIES[mix](n_docs - n_exact, rng)
    group_of = [-1] * len(contents)
    for g, members in enumerate(groups):
        contents += members
        group_of += [g] * len(members)
    # scatter cluster and group members across ids
    order = rng.permutation(len(contents))
    contents = [contents[i] for i in order]
    group_of = [group_of[i] for i in order]
    exact_groups: Dict[int, List[int]] = {}
    for doc_id, g in enumerate(group_of):
        if g >= 0:
            exact_groups.setdefault(g, []).append(doc_id)

    rows = []
    for i, content in enumerate(contents):
        repo = f"org{i % 37}/repo{i % 101}"
        lang = _LANGS[i % len(_LANGS)]
        path = f"src/mod{i % 13}/file{i}.{_EXT[lang]}"
        commit = hashlib.sha1(f"{repo}:{path}".encode()).hexdigest()
        rows.append((i, repo, path, commit, lang, content))
    docs = pd.DataFrame(rows, columns=["doc_id", "repo", "path", "commit", "lang", "content"])
    return Corpus(docs, [exact_groups[g] for g in sorted(exact_groups)])


def write_corpus(corpus: Corpus, path: str, files: int = 1) -> str:
    """One parquet file, or a directory of ``files`` part files in id order."""
    if files == 1:
        corpus.docs.to_parquet(path, index=False)
        return path
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(corpus.docs)), files)):
        corpus.docs.iloc[part].to_parquet(os.path.join(path, f"part-{i:05d}.parquet"), index=False)
    return path


def self_check(mix: str, n_docs: int, seed: int) -> str:
    """Generate twice and require identical digests; returns the digest."""
    a, b = generate(mix, n_docs, seed).digest(), generate(mix, n_docs, seed).digest()
    if a != b:
        raise RuntimeError(f"corpus {mix}/{n_docs}/seed={seed} is not deterministic")
    return a
