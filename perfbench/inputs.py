"""Seeded inputs for the benchmark workloads, with their expected answers.

Every generator is a pure function of its seed: the same seed gives the same
rows, files and expected answers. Inputs are built with NumPy and pyarrow in
the benchmark's own process, so the program under test only ever receives the
generated files. Violations are injected at exact, disjoint row positions so
each check can compare against an exact count or an exact set.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from jsschema_spark.audio import synth_pcm, wav_encode

N_FILES = 8

# ---------------------------------------------------------------------------
# The input_hint clips table (clip_id, bytes, sr_hz, dur_ms,
# codec, transcript) validated by the typed Catalyst tier.

CLIPS_SCHEMA = {
    "type": "object",
    "required": ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"],
    "properties": {
        "clip_id": {"type": "string", "pattern": "^clip-[0-9]{12}$"},
        "sr_hz": {"type": "integer", "minimum": 8000, "maximum": 48000},
        "dur_ms": {"type": "integer", "minimum": 1, "maximum": 60000},
        "codec": {"type": "string", "enum": ["pcm_s16le", "flac", "opus"]},
        "transcript": {"type": "string", "minLength": 1, "maxLength": 4096},
    },
}

# One single-keyword sub-schema per lowered keyword, for the per-keyword cost
# (each minus the empty-schema baseline).
CLIPS_KEYWORD_SCHEMAS = {
    "required": {"required": ["clip_id"]},
    "pattern": {"properties": {"clip_id": {"pattern": "^clip-[0-9]{12}$"}}},
    "minimum": {"properties": {"sr_hz": {"minimum": 8000}}},
    "maximum": {"properties": {"sr_hz": {"maximum": 48000}}},
    "enum": {"properties": {"codec": {"enum": ["pcm_s16le", "flac", "opus"]}}},
    "minLength": {"properties": {"transcript": {"minLength": 1}}},
    "maxLength": {"properties": {"transcript": {"maxLength": 4096}}},
}

# (path, keyword) -> rows injected with exactly that one violation
_CLIP_INJECTIONS = [
    ("$.clip_id", "required"), ("$.bytes", "required"), ("$.sr_hz", "required"),
    ("$.dur_ms", "required"), ("$.codec", "required"), ("$.transcript", "required"),
    ("$.clip_id", "pattern"), ("$.sr_hz", "minimum"), ("$.sr_hz", "maximum"),
    ("$.dur_ms", "minimum"), ("$.dur_ms", "maximum"), ("$.codec", "enum"),
    ("$.transcript", "minLength"), ("$.transcript", "maxLength"),
]


def _clip_ids(ids: np.ndarray) -> list[str]:
    return [f"clip-{i:012d}" for i in ids.tolist()]


def write_clips(seed: int, n: int, out_dir: str) -> dict:
    """Write ``n`` clips rows as ``N_FILES`` parquet files; return the
    expected answers: ``valid`` count and ``summary`` {(path, keyword): n}."""
    rng = np.random.default_rng([seed, 1])
    base = int(rng.integers(0, 10**11))
    clip_id = _clip_ids(base + np.arange(n))
    sr_hz = rng.choice([8000, 16000, 44100], size=n).astype(object)
    dur_ms = rng.integers(200, 15000, size=n).astype(object)
    codec = rng.choice(["pcm_s16le", "flac", "opus"], size=n).astype(object)
    digests = rng.integers(0, 2**63, size=n)
    transcript = [f"{d:016x} {d % 9973:x}" for d in digests.tolist()]
    payload = [d.to_bytes(8, "little") for d in digests.tolist()]

    # 1-5 per mille of rows per injected violation, disjoint rows
    per_kind = rng.integers(max(1, n // 1000), max(2, n // 200), size=len(_CLIP_INJECTIONS))
    rows = rng.permutation(n)[: int(per_kind.sum())]
    summary = {}
    at = 0
    for (path, kw), k in zip(_CLIP_INJECTIONS, per_kind.tolist()):
        for r in rows[at:at + k].tolist():
            col = path[2:]
            if kw == "required":
                if col == "clip_id":
                    clip_id[r] = None
                elif col == "bytes":
                    payload[r] = None
                elif col == "transcript":
                    transcript[r] = None
                else:
                    {"sr_hz": sr_hz, "dur_ms": dur_ms, "codec": codec}[col][r] = None
            elif kw == "pattern":
                clip_id[r] = f"clip-{r:x}"
            elif kw == "minimum":
                (sr_hz if col == "sr_hz" else dur_ms)[r] = 0
            elif kw == "maximum":
                (sr_hz if col == "sr_hz" else dur_ms)[r] = 96001 if col == "sr_hz" else 70000
            elif kw == "enum":
                codec[r] = "unknown"
            elif kw == "minLength":
                transcript[r] = ""
            elif kw == "maxLength":
                transcript[r] = "x" * 4097
        summary[(path, kw)] = k
        at += k
    table = pa.table({
        "clip_id": pa.array(clip_id, pa.string()),
        "bytes": pa.array(payload, pa.binary()),
        "sr_hz": pa.array(sr_hz.tolist(), pa.int32()),
        "dur_ms": pa.array(dur_ms.tolist(), pa.int32()),
        "codec": pa.array(codec.tolist(), pa.string()),
        "transcript": pa.array(transcript, pa.string()),
    })
    _write_split(table, out_dir)
    return {"rows": n, "valid": n - int(per_kind.sum()), "summary": summary}


# ---------------------------------------------------------------------------
# JSON text: clip metadata (nested object, array, enum,
# pattern). One schema compiles to the Variant tier; the same constraints
# behind a recursive $ref fall back to the pandas UDF.

_SEGMENT = {
    "type": "object",
    "required": ["start", "end"],
    "properties": {
        "start": {"type": "number", "minimum": 0},
        "end": {"type": "number", "minimum": 0},
    },
}

VARIANT_SCHEMA = {
    "type": "object",
    "required": ["clip_id", "lang", "sr_hz", "speaker", "segments"],
    "properties": {
        "clip_id": {"type": "string", "pattern": "^clip-[0-9]{12}$"},
        "lang": {"enum": ["en", "de", "fr", "es", "ja"]},
        "sr_hz": {"type": "integer", "minimum": 8000, "maximum": 48000},
        "speaker": {
            "type": "object",
            "required": ["id"],
            "properties": {
                "id": {"type": "integer", "minimum": 0},
                "gender": {"enum": ["f", "m", "x"]},
                "age": {"type": "integer", "minimum": 0, "maximum": 120},
            },
        },
        "tags": {"type": "array", "items": {"type": "string", "maxLength": 16}},
        "segments": {"type": "array", "items": _SEGMENT},
    },
}

# the same constraints, but segments may nest: a recursive $ref, which the
# Variant compiler cannot inline, so validate_json_auto takes the pandas UDF
FALLBACK_SCHEMA = {
    **VARIANT_SCHEMA,
    "definitions": {
        "segment": {
            **_SEGMENT,
            "properties": {
                **_SEGMENT["properties"],
                "children": {"type": "array", "items": {"$ref": "#/definitions/segment"}},
            },
        },
    },
    "properties": {
        **VARIANT_SCHEMA["properties"],
        "segments": {"type": "array", "items": {"$ref": "#/definitions/segment"}},
    },
}

JSON_KEYWORD_SCHEMAS = {
    "type": {"properties": {"sr_hz": {"type": "integer"}}},
    "required": {"required": ["clip_id", "lang", "sr_hz", "speaker", "segments"]},
    "properties": {"properties": {"speaker": {"properties": {"id": {"minimum": 0}}}}},
    "items": {"properties": {"tags": {"items": {"maxLength": 16}}}},
    "enum": {"properties": {"lang": {"enum": ["en", "de", "fr", "es", "ja"]}}},
    "pattern": {"properties": {"clip_id": {"pattern": "^clip-[0-9]{12}$"}}},
    "minimum": {"properties": {"sr_hz": {"minimum": 8000}}},
}

_LANGS = ["en", "de", "fr", "es", "ja"]
_TAGS = ["noisy", "clean", "music", "speech", "outdoor", "phone", "studio", "kids"]


def _doc_breakers():
    """Each breaks one constraint that both schemas share."""
    def bad_pattern(d):
        d["clip_id"] = d["clip_id"].replace("clip-", "clp-")

    def bad_enum(d):
        d["lang"] = "xx"

    def bad_minimum(d):
        d["sr_hz"] = 4000

    def bad_type(d):
        d["sr_hz"] = str(d["sr_hz"])

    def missing_required(d):
        del d["speaker"]["id"]

    def bad_nested_max(d):
        d["speaker"]["age"] = 300

    def bad_item(d):
        d["tags"] = d["tags"] + ["x" * 20]

    def bad_segment(d):
        del d["segments"][0]["end"]

    return [bad_pattern, bad_enum, bad_minimum, bad_type, missing_required,
            bad_nested_max, bad_item, bad_segment]


def make_docs(seed: int, n: int) -> tuple[list[str], set[int]]:
    """``n`` JSON documents and the set of doc ids made invalid."""
    rng = np.random.default_rng([seed, 2])
    base = int(rng.integers(0, 10**11))
    breakers = _doc_breakers()
    bad = rng.permutation(n)[: n // 25]
    broken = {int(b): breakers[i % len(breakers)] for i, b in enumerate(bad.tolist())}
    docs = []
    for i in range(n):
        n_seg = int(rng.integers(1, 6))
        starts = np.round(np.cumsum(rng.random(n_seg) * 2.0), 3)
        d = {
            "clip_id": f"clip-{base + i:012d}",
            "lang": _LANGS[int(rng.integers(0, 5))],
            "sr_hz": int(rng.choice([8000, 16000, 44100])),
            "speaker": {
                "id": int(rng.integers(0, 10**6)),
                "gender": "fmx"[int(rng.integers(0, 3))],
                "age": int(rng.integers(18, 90)),
            },
            "tags": [_TAGS[int(t)]
                     for t in rng.integers(0, len(_TAGS), size=int(rng.integers(0, 4)))],
            "segments": [
                {"start": float(s), "end": float(s + 0.5)} for s in starts.tolist()
            ],
        }
        if i in broken:
            broken[i](d)
        docs.append(json.dumps(d, separators=(",", ":")))
    return docs, set(broken)


def write_docs(seed: int, n: int, out_dir: str) -> dict:
    docs, invalid = make_docs(seed, n)
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "json": pa.array(docs, pa.string()),
    })
    _write_split(table, out_dir)
    rng = np.random.default_rng([seed, 3])
    sample = set(rng.choice(n, size=min(n, 96), replace=False).tolist())
    sample |= set(sorted(invalid)[:32])
    return {"invalid": invalid, "docs": docs, "sample": sorted(sample)}


# ---------------------------------------------------------------------------
# WAV payload parquet files. The seed picks the clip ids and the corrupted
# clips: some carry added noise, some carry another clip's signal at half
# gain. Both must fail the SNR invariant against their own reference.

def write_audio(seed: int, n: int, out_dir: str) -> dict:
    rng = np.random.default_rng([seed, 4])
    base = int(rng.integers(0, 10**11))
    ids = _clip_ids(base + np.arange(n))
    srs = rng.choice([8000, 16000], size=n).tolist()
    durs = rng.integers(300, 1500, size=n).tolist()
    picks = rng.permutation(n)
    n_noisy, n_dups = max(1, n // 50), max(1, n // 100)
    noisy = set(picks[:n_noisy].tolist())
    dup_src = picks[n_noisy:n_noisy + n_dups].tolist()
    dup_dst = picks[n_noisy + n_dups:n_noisy + 2 * n_dups].tolist()
    # synth_pcm returns a view of a reused buffer: copy each signal
    pcms = [synth_pcm(ids[i], srs[i], srs[i] * durs[i] // 1000).copy() for i in range(n)]
    for i in noisy:
        noise = rng.integers(-16000, 16000, size=len(pcms[i]))
        pcms[i] = np.clip(pcms[i].astype(np.int32) + noise, -32768, 32767).astype(np.int16)
    for s, d in zip(dup_src, dup_dst):
        pcms[d] = (pcms[s].astype(np.int32) // 2).astype(np.int16)
        srs[d] = srs[s]
    payloads = [wav_encode(p, sr) for p, sr in zip(pcms, srs)]
    table = pa.table({
        "clip_id": pa.array(ids, pa.string()),
        "bytes": pa.array(payloads, pa.binary()),
        "sr_hz": pa.array(srs, pa.int32()),
        "dur_ms": pa.array(durs, pa.int32()),
    })
    _write_split(table, out_dir)
    return {"snr_failures": {ids[i] for i in noisy} | {ids[d] for d in dup_dst}}


def _write_split(table: pa.Table, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for f in range(N_FILES):
        pq.write_table(table.slice(f * step, step), os.path.join(out_dir, f"part-{f:05d}.parquet"))
