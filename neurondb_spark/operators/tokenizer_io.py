"""Tokenizer artifact persistence — save/load a learned BPE merge table.

The reference ships pretrained tokenizer files and loads them by path
(neurondb--1.0.sql:5117-5157 tokenizer surface;
NeuronDB/src/onnx/neurondb_tokenizer.c reads vocab/merges from disk).
This module is the training-side counterpart: the merge table
``bpe.bpe_train`` learns is serialized as one
versioned JSON artifact (atomic tmp+rename write), so a tokenizer
trained once on the cluster is a deployment file any job — or an
external HF-tokenizers consumer via the merges list — can load.

Driver-side file I/O only (the artifact is KBs even at 32k merges);
applying a loaded tokenizer is ``bpe.bpe_tokenize``, one per-row
Arrow-batched UDF.
"""

from __future__ import annotations

import json
import os

_FORMAT = "neurondb-bpe-v1"


def save_tokenizer(
    path: str, merges: list[tuple[str, str, int]], meta: dict | None = None,
) -> str:
    """Write the merge table (training order — order IS the tokenizer)
    plus optional metadata as one atomic JSON file. Returns ``path``."""
    payload = {
        "format": _FORMAT,
        "merges": [[l, r, int(c)] for l, r, c in merges],
        "meta": dict(meta or {}),
    }
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)
    return path


def load_tokenizer(path: str) -> tuple[list[tuple[str, str, int]], dict]:
    """Read a saved tokenizer; returns (merges, meta). Refuses files in
    an unknown format rather than mis-tokenizing silently."""
    with open(path) as f:
        payload = json.load(f)
    if payload.get("format") != _FORMAT:
        raise ValueError(
            f"neurondb: {path!r} is not a {_FORMAT} tokenizer artifact "
            f"(format={payload.get('format')!r})"
        )
    merges = [(l, r, int(c)) for l, r, c in payload["merges"]]
    return merges, payload.get("meta", {})


def export_hf_tokenizer(
    dir_path: str, merges: list[tuple[str, str, int]],
    alphabet: set[str] | None = None,
) -> tuple[str, str]:
    """Emit the standard ``vocab.json`` + ``merges.txt`` pair (the
    GPT-2/HF byte-level BPE file format, which HF ``tokenizers`` loads
    directly) from a learned merge table. The derived base alphabet is
    every single-character symbol the merges mention, plus the optional
    explicit ``alphabet`` (ADVICE r14): THIS package passes characters
    that never participate in a merge through as themselves, but an HF
    consumer maps any character absent from vocab.json to UNK — so a
    merges-only export covers only merge-participating characters, and
    full-fidelity HF interop should pass the corpus alphabet (e.g. the
    distinct characters of the training word table). Each merge then
    contributes its concatenation as the next vocab id — exactly how HF
    reconstructs a vocab from merges. merges.txt is the training-ordered
    ``left right`` list under the canonical ``#version: 0.2`` header.
    Returns (vocab_path, merges_path); both writes are atomic
    tmp+rename. Our tokens are alnum runs so the space separator is
    safe — a token containing a space is refused rather than corrupted."""
    chars: set[str] = set()
    for ch in alphabet or ():
        if len(ch) != 1:
            raise ValueError(
                f"neurondb: alphabet entries are single characters, got "
                f"{ch!r}"
            )
        if ch in " \n":
            raise ValueError(
                "neurondb: merges.txt/vocab.json export cannot carry "
                f"whitespace alphabet entry {ch!r}"
            )
        chars.add(ch)
    for left, right, _ in merges:
        if " " in left or " " in right or "\n" in left or "\n" in right:
            raise ValueError(
                "neurondb: merges.txt is space/line-delimited — token "
                f"({left!r}, {right!r}) cannot be exported"
            )
        chars.update(left)
        chars.update(right)
    alphabet = chars
    vocab: dict[str, int] = {}
    for ch in sorted(alphabet):
        vocab[ch] = len(vocab)
    for left, right, _ in merges:
        tok = left + right
        if tok not in vocab:
            vocab[tok] = len(vocab)
    os.makedirs(dir_path, exist_ok=True)
    vocab_path = os.path.join(dir_path, "vocab.json")
    merges_path = os.path.join(dir_path, "merges.txt")
    tmp = vocab_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(vocab, f, ensure_ascii=False)
    os.replace(tmp, vocab_path)
    tmp = merges_path + ".tmp"
    with open(tmp, "w") as f:
        f.write("#version: 0.2\n")
        for left, right, _ in merges:
            f.write(f"{left} {right}\n")
    os.replace(tmp, merges_path)
    return vocab_path, merges_path


def load_hf_merges(merges_path: str) -> list[tuple[str, str, int]]:
    """Re-read an emitted ``merges.txt`` into this package's merge-table
    shape (counts are not part of the HF format and come back as 0 —
    tokenizer APPLY never consults them; order IS the tokenizer)."""
    out: list[tuple[str, str, int]] = []
    with open(merges_path) as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            left, sep, right = line.partition(" ")
            if not sep or not left or not right or " " in right:
                raise ValueError(
                    f"neurondb: malformed merges.txt line {line!r}"
                )
            out.append((left, right, 0))
    return out
