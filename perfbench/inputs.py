"""Seeded input tables for the benchmark workloads.

Every table is a pure function of (kind, seed, rows): the same
arguments give a byte-identical parquet file, which is cached under the
work directory with a sidecar JSON recording its SHA-256 and the input
properties the workload was chosen for. The program under test only
ever sees the parquet table.
"""

from __future__ import annotations

import hashlib
import io
import json
import multiprocessing
import os
import shutil
import time
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# generated tables kept per input kind; older ones are evicted (a mixed
# table is ~100 KB per row)
CACHE_KEEP = 3

CLIPS_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("text", pa.string())])


def mixed_offset(seed: int) -> int:
    """First datagen row index of the `mixed` table for a seed."""
    return 10_000_000 + (seed % 1_000_000) * 4096


# --- mixed: datagen.make_row rows (the bench.py clips distribution) ---


def _make_rows(start: int, n: int) -> list[tuple]:
    from go_pkg_spider_spark import datagen

    return [datagen.make_row(start + i) for i in range(n)]


def mixed_rows(seed: int, rows: int, procs: int) -> list[tuple]:
    start = mixed_offset(seed)
    chunk = max(1, -(-rows // max(procs, 1)))
    spans = [(start + k, min(chunk, rows - k)) for k in range(0, rows, chunk)]
    if procs <= 1 or len(spans) == 1:
        return _make_rows(start, rows)
    # make_row encodes audio in pure Python (~5 ms/row); spread it over
    # the cores. spawn: the parent may already hold threads.
    with multiprocessing.get_context("spawn").Pool(len(spans)) as pool:
        parts = pool.starmap(_make_rows, spans)
    return [r for part in parts for r in part]


# --- text_heavy: tiny valid PCM, multi-KB transcripts on the model path ---

_WORDS = {
    # Latin with diacritics: > 5 Latin-1 supplement characters per text
    # sends the row to the n-gram model (langid.body_lang_rules)
    "fr": "le la les des une pour être très déjà où événement économie réunion "
    "société gouvernement première année après façon intérêt élève français "
    "problème système côté leçon garçon noël hôtel forêt théâtre".split(),
    "de": "der die das und für über mit schön größer straße mädchen würde "
    "können müssen wirtschaft bedeutung öffentlich grüße tür hände "
    "bäume fußball gemüse frühstück".split(),
    "es": "el la los las para niño año mañana también corazón canción "
    "información jóvenes país está más después según árbol "
    "pequeño español acción nación".split(),
    "pt": "o a os para não mais também informação ação coração órgão "
    "mãe irmão avó você está então até pôr época ônibus "
    "função lição português".split(),
    # Cyrillic: no ASCII majority, so the model's `other` set decides
    "ru": "быстрая коричневая лиса прыгает через ленивую собаку журналисты "
    "собирались месте чтобы подробно осветить историю эксперты заявили "
    "событие имеет большое значение экономики власти приняли меры "
    "защиты жителей".split(),
    # plain ASCII English settles in the JVM cascade (no model call)
    "en": "the quick brown fox jumps over lazy dog while reporters gathered "
    "at scene to cover story in detail experts said event carries "
    "significant meaning for local economy officials measures".split(),
}
_TEXT_LANG_WEIGHTS = (("fr", 12), ("de", 10), ("es", 8), ("pt", 6), ("ru", 30), ("en", 14))
_MARKUP = ("<b>{}</b>", "<i>{}</i>", "[music] {}", "{} [applause]", "<span>{}</span>")
_PII = (
    "contact {u}{k}@example.org",
    "call +1 555 {k:03d} {k:04d}",
    "see https://example.com/item/{k}",
    "date 2023-05-{d:02d} 14:30:00",
    "host 10.{d}.{k}.7",
)


def _pcm_blob(rng: np.random.Generator) -> bytes:
    n = int(rng.integers(32, 129))
    return rng.integers(-12000, 12000, size=n, dtype=np.int16).astype("<i2").tobytes()


def _heavy_transcript(rng: np.random.Generator, lang: str) -> str:
    words = _WORDS[lang]
    target = int(rng.integers(1500, 5000))
    parts: list[str] = []
    size = 0
    while size < target:
        w = words[int(rng.integers(0, len(words)))]
        r = rng.random()
        if r < 0.02:
            w = _MARKUP[int(rng.integers(0, len(_MARKUP)))].format(w)
        elif r < 0.03:
            k = int(rng.integers(0, 10_000))
            w = _PII[int(rng.integers(0, len(_PII)))].format(
                u=words[0], k=k % 1000, d=1 + k % 28
            )
        parts.append(w)
        size += len(w) + 1
    return " ".join(parts) + "."


def text_heavy_rows(seed: int, rows: int) -> tuple[list[tuple], list[str]]:
    rng = np.random.default_rng([seed, 2])
    langs, weights = zip(*_TEXT_LANG_WEIGHTS)
    p = np.array(weights, dtype=float) / sum(weights)
    out, labels = [], []
    for i in range(rows):
        r = rng.random()
        if r < 0.02:
            lang, text = "short", "ok then"
        elif r < 0.04:
            lang, text = "junk", "{a}{b}{c}{d}{e} template {f} render " * 8
        else:
            lang = langs[int(rng.choice(len(langs), p=p))]
            text = _heavy_transcript(rng, lang)
        out.append((f"clip-{i:012d}", _pcm_blob(rng), 16000, 0, "pcm_s16le", text))
        labels.append(lang)
    return out, labels


# --- docs: documents with planted exact and near duplicates ---

DUP_EXACT_SHARE = 0.15
DUP_NEAR_SHARE = 0.10


def dedup_docs(seed: int, rows: int) -> tuple[list[tuple], dict[str, int]]:
    """Base documents of 60-160 random words from a 4000-word vocabulary
    (word 3-shingle Jaccard between bases is ~0), then exact copies and
    one-word edits of earlier bases. An edit keeps ~0.96 Jaccard with its
    base, far above the 0.5 threshold, so MinHash-LSH (32 hashes, 8
    bands) misses a planted pair with probability ~1e-6. Copies and
    edits get larger ids than their base, so the expected decision of
    every row is known: base -> keep, copy -> drop_exact_dup, edit ->
    drop_near_dup."""
    rng = np.random.default_rng([seed, 3])
    vocab = [
        "".join(chr(97 + int(c)) for c in rng.integers(0, 26, size=int(rng.integers(3, 9))))
        for _ in range(4000)
    ]
    n_exact = int(rows * DUP_EXACT_SHARE)
    n_near = int(rows * DUP_NEAR_SHARE)
    n_base = rows - n_exact - n_near
    bases = [
        [vocab[int(k)] for k in rng.integers(0, len(vocab), size=int(rng.integers(60, 161)))]
        for _ in range(n_base)
    ]
    texts = [" ".join(b) for b in bases]
    edited = rng.choice(n_base, size=n_near, replace=False)
    for b in edited:
        words = list(bases[int(b)])
        j = int(rng.integers(0, len(words)))
        words[j] = words[j] + "x"
        texts.append(" ".join(words))
    for b in rng.integers(0, n_base, size=n_exact):
        texts.append(texts[int(b)])
    docs = [(f"doc-{i:09d}", t) for i, t in enumerate(texts)]
    expected = {"keep": n_base, "drop_exact_dup": n_exact, "drop_near_dup": n_near}
    return docs, expected


# --- table assembly, hashing, cache ---

# every table is written as PARTS equal parquet files of one row group
# each, which Spark's file-split sizing packs into equal scan tasks
# whatever the table's size
PARTS = 8


def _parts(rows: list[tuple], schema: pa.Schema) -> list[bytes]:
    step = -(-len(rows) // PARTS)
    out = []
    for k in range(0, len(rows), step):
        cols = list(zip(*rows[k : k + step]))
        table = pa.table([pa.array(list(c), f.type) for c, f in zip(cols, schema)], schema=schema)
        buf = io.BytesIO()
        pq.write_table(table, buf, row_group_size=step)
        out.append(buf.getvalue())
    return out


def _length_stats(texts: list[str]) -> dict:
    lens = np.array([len(t) for t in texts] or [0])
    return {"mean": round(float(lens.mean()), 1), "p50": int(np.median(lens)), "max": int(lens.max())}


def generate(kind: str, seed: int, rows: int, procs: int) -> tuple[list[bytes], dict]:
    """(parquet part files, recorded properties) of one input table
    kind: `mixed` or `text_heavy` clips, or dedup `docs`."""
    if kind == "mixed":
        from go_pkg_spider_spark import datagen

        data = mixed_rows(seed, rows, procs)
        start = mixed_offset(seed)
        props = {
            "chosen_for": "the bench.py clips distribution: ~100 KB audio blobs, 20% flac, "
            "~420-char transcripts over 17 templates, 2% truncated blobs, 2% rejected codec",
            "generator": f"datagen.make_row({start} + i)",
            "codec_mix": dict(Counter(r[4] for r in data)),
            "audio_bytes_mean": round(float(np.mean([len(r[1]) for r in data])), 1),
            "transcript_len": _length_stats([r[5] for r in data]),
            "lang_mix": dict(Counter(str(datagen.expected_lang(start + i)) for i in range(rows))),
        }
    elif kind == "text_heavy":
        data, labels = text_heavy_rows(seed, rows)
        props = {
            "chosen_for": "tiny valid pcm blobs and multi-KB transcripts, mostly on the langid "
            "model path, with markup and PII spans: text layers dominate, decode is near zero",
            "generator": "text_heavy_rows",
            "codec_mix": dict(Counter(r[4] for r in data)),
            "audio_bytes_mean": round(float(np.mean([len(r[1]) for r in data])), 1),
            "transcript_len": _length_stats([r[5] for r in data]),
            "lang_mix": dict(Counter(labels)),
        }
    elif kind == "docs":
        data, expected = dedup_docs(seed, rows)
        props = {
            "chosen_for": "planted exact and near duplicates with known decisions, enough LSH "
            "candidates that every dedup stage and the component loop run",
            "generator": "dedup_docs",
            "exact_dup_share": DUP_EXACT_SHARE,
            "near_dup_share": DUP_NEAR_SHARE,
            "text_len": _length_stats([r[1] for r in data]),
            "expected_decisions": expected,
        }
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    props["rows"] = rows
    return _parts(data, DOCS_SCHEMA if kind == "docs" else CLIPS_SCHEMA), props


def sha256(parts: list[bytes]) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p)
    return h.hexdigest()


def _read_parts(path: Path) -> list[bytes]:
    return [p.read_bytes() for p in sorted(path.glob("part-*.parquet"))]


def prepare(kind: str, seed: int, rows: int, cache_dir: Path, procs: int) -> dict:
    """Path and properties of one input table (a directory of part
    files), generating it on a cache miss. A cached table is re-hashed
    against its sidecar before reuse, so a damaged cache entry is
    regenerated, never measured."""
    cache_dir.mkdir(parents=True, exist_ok=True)
    path = cache_dir / f"{kind}-s{seed}-n{rows}"
    side = path.with_suffix(".json")
    if path.is_dir() and side.exists():
        meta = json.loads(side.read_text())
        if sha256(_read_parts(path)) == meta["sha256"]:
            os.utime(side)
            return {**meta, "path": str(path), "gen_s": 0.0, "reused": True}
    t0 = time.perf_counter()
    parts, props = generate(kind, seed, rows, procs)
    gen_s = time.perf_counter() - t0
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir()
    for k, blob in enumerate(parts):
        (path / f"part-{k:05d}.parquet").write_bytes(blob)
    meta = {"sha256": sha256(parts), "props": props}
    side.write_text(json.dumps(meta, sort_keys=True))
    old = sorted(cache_dir.glob(f"{kind}-s*.json"), key=lambda p: p.stat().st_mtime)
    for p in old[:-CACHE_KEEP]:
        shutil.rmtree(p.with_suffix(""), ignore_errors=True)
        p.unlink(missing_ok=True)
    return {**meta, "path": str(path), "gen_s": gen_s, "reused": False}
