"""Seeded input generator for the end-to-end benchmark.

Every input is a pure function of (workload, seed, size): the same triple
always writes byte-identical files, and `generate` returns their SHA-256
digest so a run can prove which inputs it measured.

Three inputs, one per workload:

- ``dashboard``: ``events.parquet`` with the reference corpus's schema,
  value domains and footer generation: ``ts`` is
  TIMESTAMP(MICROS, isAdjustedToUTC=false), written by the same pyarrow
  line as the reference files. ``value`` is continuous, so 4-dp averages
  never sit on a rounding tie, and all five event types appear (Q4 needs
  ``click`` and ``purchase``).
- ``ingest``: NGSI-LD notification envelopes as JSON-lines files for 6
  rooms x 3 sensors with sparse attributes, a seeded share of null values
  and of malformed ``observedAt`` strings. Event time strictly increases
  per entity across files, so file order is event-time order.
- ``dedup``: a ``documents`` table plus one parquet file per arrival wave
  (``src0-4``, ``src5-9``, ...). Planted near-duplicate clusters hold at
  most four documents, so the candidate-pair graph grows linearly with the
  corpus.
"""
import datetime
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("dashboard", "ingest", "dedup")

# rows of events / notification files x lines / documents, per size
SIZES = {
    "full": {"events": 186_000, "files": 120, "lines": 250, "docs": 2_000},
    "small": {"events": 6_000, "files": 24, "lines": 40, "docs": 600},
}

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
ROOMS = ["Kitchen", "Bedroom", "LivingRoom", "Bathroom", "Office", "Garage"]
SENSORS = ["temperature", "humidity", "brightness"]
# Strings Spark's try_to_timestamp cannot parse; each reading carrying one
# must be dropped by the parser, never reach the throttle.
MALFORMED_TS = ["not-a-timestamp", "", "n/a", "yesterday"]
EPOCH_2024 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
EPOCH_2024_US = int(EPOCH_2024.timestamp()) * 1_000_000
MS_PER_DAY = 86_400_000


def _rng(workload, seed):
    return np.random.default_rng([WORKLOADS.index(workload), seed])


def _events(rng, n, out):
    span_us = 30 * MS_PER_DAY * 1000
    ts = np.sort(rng.integers(0, span_us, n)) + EPOCH_2024_US
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 2_800, n)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(rng.gamma(2.0, 60.0, n)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(table, os.path.join(out, "events.parquet"))


def _iso_ms(ms):
    t = EPOCH_2024 + datetime.timedelta(milliseconds=int(ms))
    return t.isoformat(timespec="milliseconds")


def _notifications(rng, n_files, n_lines, out):
    d = os.path.join(out, "notifications")
    os.makedirs(d)
    clock = rng.integers(0, 60_000, len(ROOMS))
    for f in range(n_files):
        # one vectorised draw per attribute kind and file
        ks = rng.integers(1, 4, n_lines)
        order = np.argsort(rng.random((n_lines, len(ROOMS))), axis=1)
        gaps = rng.integers(500, 12_000, (n_lines, len(ROOMS)))
        present = rng.random((n_lines, len(ROOMS), 3)) < 0.7
        forced = rng.integers(0, 3, (n_lines, len(ROOMS)))
        values = rng.normal(20.0, 6.0, (n_lines, len(ROOMS), 3))
        nulls = rng.random((n_lines, len(ROOMS), 3)) < 0.03
        bad = rng.random((n_lines, len(ROOMS), 3)) < 0.03
        bad_kind = rng.integers(0, len(MALFORMED_TS), (n_lines, len(ROOMS), 3))
        lines = []
        for i in range(n_lines):
            entities = []
            for r in order[i, :ks[i]]:
                room = ROOMS[r]
                clock[r] += gaps[i, r]
                at = _iso_ms(clock[r])
                ent = {"id": f"urn:ngsi-ld:{room}:{room}", "type": room}
                if not present[i, r].any():
                    present[i, r, forced[i, r]] = True
                for s, sensor in enumerate(SENSORS):
                    if present[i, r, s]:
                        ent[sensor] = {
                            "type": "Property",
                            "value": None if nulls[i, r, s] else float(values[i, r, s]),
                            "observedAt": MALFORMED_TS[bad_kind[i, r, s]] if bad[i, r, s] else at}
                entities.append(ent)
            lines.append(json.dumps({"data": entities}, separators=(",", ":")))
        with open(os.path.join(d, f"n{f:05d}.jsonl"), "w") as fh:
            fh.write("\n".join(lines) + "\n")


def _word(rng):
    return "".join(chr(97 + c) for c in rng.integers(0, 26, int(rng.integers(3, 10))))


def _mutate(rng, toks, vocab, frac):
    toks = list(toks)
    for _ in range(int(round(frac * len(toks)))):
        i = int(rng.integers(0, len(toks)))
        if rng.random() < 0.5:
            toks[i] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            toks.insert(i, vocab[int(rng.integers(0, len(vocab)))])
    return toks


def _documents(rng, n, out):
    vocab = [_word(rng) for _ in range(6_000)]
    # Zipf-like token popularity: unrelated documents still share common
    # words, as natural text does, without sharing 3-word shingles.
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()
    texts = []
    while len(texts) < n:
        base = [vocab[i] for i in rng.choice(len(vocab), int(rng.integers(40, 100)), p=weights)]
        texts.append(base)
        if rng.random() < 0.25:  # a cluster of 1-3 near-copies of `base`
            for _ in range(int(rng.integers(1, 4))):
                texts.append(_mutate(rng, base, vocab, float(rng.choice([0.0, 0.03, 0.08, 0.15, 0.3]))))
    texts = texts[:n]
    order = rng.permutation(n)  # scatter cluster members across sources/waves
    docs = [" ".join(texts[i]) for i in order]
    ids = np.arange(n, dtype=np.int64)
    sources = [f"src{i % 20}" for i in ids]
    langs = np.array(["en", "zh", "de", "fr", "es"])[rng.integers(0, 5, n)]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids), "text": pa.array(docs), "lang": pa.array(langs),
        "source": pa.array(sources),
        "n_chars": pa.array(np.array([len(t) for t in docs], dtype=np.int64)),
    }), os.path.join(out, "documents.parquet"))
    d = os.path.join(out, "waves")
    os.makedirs(d)
    for w in range(4):
        sel = [i for i in range(n) if (i % 20) // 5 == w]
        pq.write_table(pa.table({
            "doc_id": pa.array(ids[sel]), "source": pa.array([sources[i] for i in sel]),
            "text": pa.array([docs[i] for i in sel]),
        }), os.path.join(d, f"wave{w}.parquet"))


def digest(out):
    """SHA-256 over every generated file, in relative-path order."""
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(out)):
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, out).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, out, size="full"):
    """Write the inputs of `workload` for `seed` into the new directory
    `out`; return their digest."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    sz = SIZES[size]
    os.makedirs(out)
    rng = _rng(workload, seed)
    if workload == "dashboard":
        _events(rng, sz["events"], out)
    elif workload == "ingest":
        _notifications(rng, sz["files"], sz["lines"], out)
    else:
        _documents(rng, sz["docs"], out)
    return digest(out)
