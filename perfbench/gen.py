"""Seeded input generator for the benchmark.

Everything the engine reads in a benchmark run is written here, from
one ``numpy`` generator seeded by ``--seed``: the same seed gives
byte-identical files. (The analytics mix reads the engine's sf0.1
test tables as they are.) Two input families:

- ``LogGen``: per-source log files in the FIXTURES.md §1-6 shapes
  (httpd access/error, FireLens JSON, Fluent Bit JSON, Lambda
  telemetry arrays) with fixed shares of malformed, duplicate, late
  and hot-key lines, plus the exact table/DLQ row counts they must
  produce;
- ``corpus_batches`` / ``vector_batches`` / ``semantic_batches``:
  document and embedding backlogs for the LLM sinks, drawn in seeded
  order from the sf0.1 ``documents`` and ``embeddings`` tables
  (``load_pool``), with seeded exact duplicates, near duplicates and
  rejects added, plus the exact per-sink outcome counts (media payloads come from the engine's own
  ``multimodal.media_routing_fixture``, whose outcomes are id
  arithmetic).
"""

from __future__ import annotations

import json
import re
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq



def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# --- log files (FIXTURES.md §1-6) ---------------------------------------

LOG_SOURCES = ("ec2", "ecs", "eks", "lambda")
# fixed per-line shares: malformed -> DLQ, duplicate -> re-shipped line
# (at-least-once, lands twice), late -> event time two days back,
# hot -> one client/path key
SHARE_MALFORMED, SHARE_DUP, SHARE_LATE, SHARE_HOT = 0.04, 0.05, 0.05, 0.2
_METHODS = ("GET", "GET", "GET", "POST", "PUT", "DELETE")
_STATUS = (200, 200, 200, 200, 301, 304, 404, 403, 500, 503)
_UA = (
    "Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) "
    "Chrome/51.0.2704.103 Safari/537.36",
    "curl/7.79.1",
    'Mozilla/5.0 (X11; Linux x86_64) "quoted" Firefox/91.0',
)
_MON = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
_DOW = ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")


class LogGen:
    """Seeded per-source log files plus the exact counts they must
    produce: ``expected[source] = {"table": rows, "dlq": rows}``.

    Event times start at a seed-derived day; ``late`` lines sit two
    days before the file's clock. Duplicates repeat an earlier line of
    the same file byte for byte. Lambda payloads are telemetry arrays
    whose platform events the pipeline filters out, so only their
    function events count; a malformed Lambda payload carries one
    function event with neither time nor record."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.t0 = datetime(2024, 1, 1, tzinfo=timezone.utc) + timedelta(days=seed % 300)
        self.expected = {s: {"table": 0, "dlq": 0} for s in LOG_SOURCES}
        self.n_lines = 0

    def _ts(self, i: int, late: bool) -> datetime:
        return self.t0 + timedelta(seconds=i * 0.37 - (172800 if late else 0))

    def _access(self, ts: datetime, hot: bool) -> str:
        r = self.rng
        ip = "10.0.0.1" if hot else ".".join(str(x) for x in r.integers(1, 255, 4))
        path = "/hot/checkout" if hot else f"/api/v1/item/{r.integers(0, 5000)}"
        nbytes = "-" if r.random() < 0.05 else str(r.integers(100, 50000))
        return (
            f"{ip} - - [{ts.day:02d}/{_MON[ts.month - 1]}/{ts.year}:"
            f'{ts.strftime("%H:%M:%S")} +0000] '
            f'"{_METHODS[r.integers(0, len(_METHODS))]} {path} HTTP/1.1" '
            f'{_STATUS[r.integers(0, len(_STATUS))]} {nbytes} "-" "{_UA[r.integers(0, len(_UA))]}"'
        )

    def _error(self, ts: datetime) -> str:
        r = self.rng
        return (
            f"[{_DOW[ts.weekday()]} {_MON[ts.month - 1]} {ts.day:2d} "
            f"{ts.strftime('%H:%M:%S')}.{ts.microsecond:06d} {ts.year}] "
            f"[core:error] [pid {r.integers(100, 9999)}] "
            f"[client 46.99.{r.integers(0, 256)}.{r.integers(1, 255)}:{r.integers(1024, 65535)}] "
            "AH00126: Invalid URI in request"
        )

    def _lambda_events(self, i: int, late: bool, n_fn: int) -> list[dict]:
        ts = self._ts(i, late)
        iso = ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"
        req = f"{self.rng.integers(0, 16**8):08x}-req"
        out = [{"time": iso, "type": "platform.start",
                "record": json.dumps({"requestId": req, "version": "$LATEST"})}]
        for k in range(n_fn):
            out.append({
                "time": iso, "type": "function",
                "record": f"{iso}\t{req}\tINFO\tprocessed item {k} of order {self.rng.integers(0, 10**6)}\n",
            })
        out.append({"time": iso, "type": "platform.runtimeDone",
                    "record": json.dumps({"requestId": req, "status": "success"})})
        return out

    def _line(self, source: str, i: int) -> tuple[str, int, int]:
        """One fresh line: (text, table rows, dlq rows)."""
        r = self.rng
        u = r.random()
        if u < SHARE_MALFORMED:
            if source == "ec2":
                return f"GARBAGE {r.integers(0, 10**9)} no structure", 0, 1
            if source == "lambda":
                return json.dumps(self._lambda_events(i, False, 1) + [{"type": "function"}]), 1, 1
            return '{"log": "truncated', 0, 1
        late = u < SHARE_MALFORMED + SHARE_LATE
        hot = r.random() < SHARE_HOT
        ts = self._ts(i, late)
        if source == "ec2":
            return (self._error(ts) if r.random() < 0.1 else self._access(ts, hot)), 1, 0
        if source == "ecs":
            return json.dumps({
                "log": self._access(ts, hot),
                "container_id": f"{r.integers(0, 2**40):012x}",
                "container_name": "httpd",
                "ecs_cluster": "log-cluster",
                "ecs_task_arn": f"arn:aws:ecs:us-east-1:123456789012:task/{r.integers(0, 99)}",
                "ecs_task_definition": "httpd:1",
                "source": "stdout",
            }), 1, 0
        if source == "eks":
            return json.dumps({
                "log": self._access(ts, hot),
                "stream": "stderr" if r.random() < 0.1 else "stdout",
                "time": ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z",
                "kubernetes": {
                    "namespace_name": "default",
                    "pod_name": f"nginx-{r.integers(0, 8)}",
                    "container_name": "nginx",
                    "host": f"ip-10-0-{r.integers(0, 4)}-1",
                    "labels": {"app": "nginx"},
                },
            }), 1, 0
        return json.dumps(self._lambda_events(i, late, 2)), 2, 0

    def file_text(self, source: str, n_lines: int) -> str:
        """One file's content; its counts accumulate into ``expected``."""
        lines: list[tuple[str, int, int]] = []
        for _ in range(n_lines):
            if lines and self.rng.random() < SHARE_DUP:
                lines.append(lines[int(self.rng.integers(0, len(lines)))])
            else:
                lines.append(self._line(source, self.n_lines))
                self.n_lines += 1
        for _, t, d in lines:
            self.expected[source]["table"] += t
            self.expected[source]["dlq"] += d
        return "\n".join(text for text, _, _ in lines) + "\n"


# --- LLM sink inputs ---------------------------------------------------

VEC_DIM = 64
SEM_THRESHOLD = 0.95


def load_pool(sf_dir: str) -> tuple[list[tuple[str, str]], np.ndarray]:
    """Source rows of the LLM backlogs: (text, lang) of every sf0.1
    document and every sf0.1 embedding (unit vectors of VEC_DIM)."""
    d = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text", "lang"]).to_pydict()
    e = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"]).column(0).to_pylist()
    return list(zip(d["text"], d["lang"])), np.asarray(e, dtype=np.float32)


def _verdict(text: str) -> str:
    """``operators.text.quality_filter``'s verdict, in Python: the
    same whitespace tokens, thresholds and rule order."""
    toks = re.split(r"\s+", text)
    n = len(toks)
    counts: dict[str, int] = {}
    for t in toks:
        counts[t] = counts.get(t, 0) + 1
    nb = max(n - 1, 0)
    dup_bigram = (nb - len(set(zip(toks, toks[1:])))) / nb if nb else 0.0
    if n < 30:
        return "rejected:too_short"
    if (n - len(counts)) / n > 0.7:
        return "rejected:dup_words"
    if max(counts.values()) / n > 0.2:
        return "rejected:top_word"
    if dup_bigram > 0.6:
        return "rejected:dup_bigrams"
    return "ingested"


def corpus_batches(pool, seed: int, n_batches: int, per_batch: int):
    """Document backlog for run_corpus_pipeline: sf0.1 documents in a
    seeded order, per batch with 10% cut to their first 8 words, 10%
    exact copies and 10% near copies (one extra word from the base) of
    earlier documents. Outcomes follow the pipeline's rules without
    ``near_dup``: the quality verdict first, then exact duplicates of
    an earlier kept text (copies carry higher ids than their base)."""
    rng = np.random.default_rng([seed, 3])
    order = rng.permutation(len(pool))
    batches, seen_rows, kept = [], [], set()
    exp: dict[str, int] = {}
    doc_id, nxt = 0, 0
    for _ in range(n_batches):
        rows = []
        for _ in range(per_batch):
            u = rng.random()
            if 0.1 <= u < 0.3 and seen_rows:
                text, lang = seen_rows[int(rng.integers(0, len(seen_rows)))]
                if u >= 0.2:
                    toks = text.split()
                    text = text + " " + toks[int(rng.integers(0, len(toks)))]
            else:
                text, lang = pool[order[nxt % len(pool)]]
                nxt += 1
                if u < 0.1:
                    text = " ".join(text.split()[:8])
                else:
                    seen_rows.append((text, lang))
            outcome = _verdict(text)
            if outcome == "ingested":
                norm = " ".join(text.split())
                if norm in kept:
                    outcome = "duplicate"
                kept.add(norm)
            rows.append((doc_id, text, lang))
            exp[outcome] = exp.get(outcome, 0) + 1
            doc_id += 1
        batches.append(rows)
    return batches, exp


def vector_batches(vecs: np.ndarray, seed: int, n_batches: int, per_batch: int, id0: int):
    """Embedding backlog for run_vector_pipeline: sf0.1 embeddings in a
    seeded order; 5% cut to half their dimension (DLQ), 10% re-sent ids
    of earlier good rows (duplicate), the rest fresh ids."""
    rng = np.random.default_rng([seed, 4])
    order = rng.permutation(len(vecs))
    batches, good = [], []
    exp = {"ingested": 0, "duplicate": 0, "rejected:bad_dimension": 0}
    vid, nxt = id0, 0
    for _ in range(n_batches):
        rows = []
        for _ in range(per_batch):
            u = rng.random()
            v = vecs[order[nxt % len(vecs)]]
            nxt += 1
            if u < 0.05:
                rows.append((vid, v[: VEC_DIM // 2]))
                exp["rejected:bad_dimension"] += 1
                vid += 1
            elif u < 0.15 and good:
                rows.append((good[int(rng.integers(0, len(good)))], v))
                exp["duplicate"] += 1
            else:
                rows.append((vid, v))
                good.append(vid)
                exp["ingested"] += 1
                vid += 1
        batches.append(rows)
    return batches, exp


def semantic_centroids(seed: int, k: int = 8) -> np.ndarray:
    """Frozen unit centroids for run_semantic_pipeline."""
    c = np.random.default_rng([seed, 5]).normal(0.0, 1.0, (k, VEC_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def semantic_batches(vecs: np.ndarray, seed: int, n_batches: int, per_batch: int, centroids: np.ndarray):
    """Embedding backlog for run_semantic_pipeline: sf0.1 embeddings
    in a seeded order (unit vectors whose pairwise cosine stays far
    below SEM_THRESHOLD), 10% of them replaced by near copies (cosine
    ~0.9999) of earlier rows whose nearest centroid wins by a clear
    margin, so copy and base always share a cell."""
    rng = np.random.default_rng([seed, 6])
    order = rng.permutation(len(vecs))
    batches, bases = [], []
    exp = {"ingested": 0, "semantic_duplicate": 0}
    vid, nxt = 0, 0
    for _ in range(n_batches):
        rows = []
        for _ in range(per_batch):
            if rng.random() < 0.1 and bases:
                b = bases[int(rng.integers(0, len(bases)))]
                v = b + rng.normal(0.0, 1e-3, VEC_DIM)
                exp["semantic_duplicate"] += 1
            else:
                v = vecs[order[nxt % len(vecs)]].astype(np.float64)
                nxt += 1
                sims = np.sort(centroids @ v)
                if sims[-1] - sims[-2] > 0.02:
                    bases.append(v)
                exp["ingested"] += 1
            rows.append((vid, v.astype(np.float32)))
            vid += 1
        batches.append(rows)
    return batches, exp


def write_docs(rows, path: str) -> None:
    ids, texts, langs = zip(*rows)
    _write(pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": list(texts), "lang": list(langs),
    }), path)


def write_vectors(rows, path: str) -> None:
    ids, vecs = zip(*rows)
    _write(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
    }), path)


def write_media(pdf, path: str) -> None:
    """Media rows (``multimodal.MEDIA_SCHEMA``) from a pandas frame."""
    n = len(pdf)
    _write(pa.table({
        "media_id": pa.array(pdf["media_id"], pa.int64()),
        "modality": pa.array(pdf["modality"], pa.string()),
        "payload": pa.array(pdf["payload"], pa.binary()),
        "mime": pa.array(pdf["mime"], pa.string()),
        "width": pa.nulls(n, pa.int32()),
        "height": pa.nulls(n, pa.int32()),
        "duration_ms": pa.nulls(n, pa.int64()),
    }), path)
