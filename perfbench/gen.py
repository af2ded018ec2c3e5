"""Seeded input generators. Pure Python/numpy/pyarrow, single process,
no Spark: the same seed always writes the same bytes, and nothing here is
timed by the benchmark.

- `write_http_log`: raw HTTP-log JSONL in the reference distribution
  (7 endpoints, 88/8/4 % 2xx/4xx/5xx, 5 % parse_result=error, elapsed_ms
  uniform in 50-800) plus a stated share of dirty rows, split into
  ingestion windows. Returns the generator's own row and quality counts.
- `write_corpus`: `documents` and `embeddings` parquet with the schema and
  value domains of the engine's test tables (30-word vocabulary, 5 %
  near-duplicates marked by a trailing "dup" token, 10-cluster unit-norm
  64-d embeddings).
- `write_arrivals`: the dedup-ingest backlog, one JSONL file per
  micro-batch, of exact copies, near copies and novel documents.
"""

from __future__ import annotations

import json
import os

import numpy as np

ENDPOINTS = [
    "/get",
    "/post",
    "/status/403",
    "/basic-auth/usuario_test/clave123",
    "/cookies",
    "/xml",
    "/redirect-to?url=/get",
]
STATUS_4XX = [400, 401, 404, 429]
STATUS_5XX = [500, 502, 503]
# dirty-row shares of the raw log (independent draws per row)
DIRTY = {"malformed": 0.01, "null_ts": 0.02, "null_endpoint": 0.01, "bad_status": 0.02, "bad_elapsed": 0.02}

WORDS = (
    "spark window merge table column vector stream value data small join filter big group hash "
    "customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10


def _text(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(WORDS, int(rng.integers(8, 100))))


def write_http_log(out_dir: str, seed: int, *, n_windows: int, rows_per_window: int) -> dict:
    """Write `window_<i>.jsonl` files; return per-window expected counts:
    lines (bronze rows), silver rows, parse_errors and
    status_cast_failures after cleaning, plus input bytes."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    windows = []
    for w in range(n_windows):
        path = os.path.join(out_dir, f"window_{w}.jsonl")
        c = {"lines": 0, "silver": 0, "parse_errors": 0, "status_cast_failures": 0}
        with open(path, "w", encoding="utf-8") as f:
            for _ in range(rows_per_window):
                u = rng.random(6)
                ep_idx = int(rng.integers(0, 7))
                ts = 1767052800 + int(rng.integers(0, 3 * 86400))  # 2025-12-30 .. 2026-01-01
                r = int(rng.integers(0, 100))
                if ep_idx == 2:
                    status = 403
                elif r < 88:
                    status = 200
                elif r < 96:
                    status = STATUS_4XX[(r - 88) % 4]
                else:
                    status = STATUS_5XX[(r - 96) % 3]
                rec = {
                    "timestamp_utc": None
                    if u[0] < DIRTY["null_ts"]
                    else np.datetime_as_string(np.datetime64(ts, "s")) + "Z",
                    "endpoint": None if u[1] < DIRTY["null_endpoint"] else ENDPOINTS[ep_idx],
                    "status_code": "N/A" if u[2] < DIRTY["bad_status"] else str(status),
                    "elapsed_ms": "slow" if u[3] < DIRTY["bad_elapsed"] else f"{50 + 750 * u[4]:.2f}",
                    "parse_result": "error" if u[5] < 0.05 else "ok",
                }
                line = json.dumps(rec)
                c["lines"] += 1
                if rng.random() < DIRTY["malformed"]:
                    f.write(line[: len(line) // 2] + "\n")  # truncated record
                    continue
                f.write(line + "\n")
                if rec["timestamp_utc"] is None or rec["endpoint"] is None:
                    continue
                c["silver"] += 1
                bad_cast = rec["status_code"] == "N/A" or rec["elapsed_ms"] == "slow"
                c["parse_errors"] += int(bad_cast or rec["parse_result"] != "ok")
                c["status_cast_failures"] += int(rec["status_code"] == "N/A")
        c["bytes"] = os.path.getsize(path)
        c["path"] = path
        windows.append(c)
    return {"windows": windows}


def corpus_texts(seed: int, n: int) -> list[str]:
    """n document texts; 5 % are an earlier text + " dup" (near-dups),
    0.2 % exact copies of an earlier text."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and u < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(_text(rng))
    return texts


def _write_parquet(table, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)


def write_corpus(out_dir: str, seed: int, *, n_docs: int, n_vecs: int) -> None:
    import pyarrow as pa

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    texts = corpus_texts(seed, n_docs)
    langs = rng.choice(LANGS, n_docs, p=LANG_P)
    _write_parquet(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs.tolist(), pa.string()),
                "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    centers = rng.normal(0.0, 0.07 / np.sqrt(EMB_DIM), (N_LABELS, EMB_DIM)) * np.sqrt(EMB_DIM)
    labels = rng.integers(0, N_LABELS, n_vecs)
    x = centers[labels] + rng.normal(0.0, 0.125, (n_vecs, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write_parquet(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(list(x), pa.list_(pa.float32())),
                "label": pa.array(labels.tolist(), pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )


def write_arrivals(out_dir: str, seed: int, base: list[str], *, n_passes: int, batches_per_pass: int,
                   per_batch: int) -> list[dict]:
    """Backlog of (doc_id, text) JSONL files `pass_<p>/batch_<b>.jsonl`.
    Each arrival is an exact copy of a base doc (20 %), a near copy of a
    base doc or an earlier arrival (30 %), or a novel doc. Returns one
    record per arrival with its kind and pass; doc ids continue after the
    base corpus."""
    rng = np.random.default_rng([seed, 4])
    seen = list(base)
    out: list[dict] = []
    files = [(p, os.path.join(out_dir, f"pass_{p}", f"batch_{b:04d}.jsonl"))
             for p in range(n_passes) for b in range(batches_per_pass)]
    for p, path in files:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for _ in range(per_batch):
                u = rng.random()
                if u < 0.2:
                    kind, text = "exact", base[int(rng.integers(0, len(base)))]
                elif u < 0.5:
                    kind, text = "near", seen[int(rng.integers(0, len(seen)))] + " dup"
                else:
                    kind, text = "novel", _text(rng)
                doc_id = len(base) + len(out)
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
                out.append({"doc_id": doc_id, "kind": kind, "pass": p})
                seen.append(text)
    return out
