"""Seeded input generator for the benchmark.

Every table and message stream is a pure function of the seed and the
sizes below, so the same seed gives the same bytes.  The tables follow
the schemas and value distributions of the engine's parquet test tables
(see TESTDATA.md and FIXTURES.md at the repository root); the message
stream follows gazette's UUID, transaction and replay conventions.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input size per workload (see README.md, "Inputs").
N_DOCS = 500                  # corpus-text: documents, as many as sf0.01 has
N_EVENTS = 6000               # journal-exactly-once: events behind the stream
N_PRODUCERS = 16

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
# Words per document in the sf0.01 `documents` table (500 rows), at the
# 0th, 5th, ..., 100th percentile, measured with numpy.percentile over
# the texts' [a-z]+ token counts (README.md, "corpus-text").
DOC_WORDS_PCT = [10.0, 16.0, 20.9, 24.85, 28.8, 32.0, 37.0, 41.65, 45.0, 50.0, 56.0,
                 59.45, 63.0, 67.0, 72.0, 76.0, 80.0, 83.0, 88.0, 94.0, 99.0]

# gazette message UUIDs (graft.functions.GazetteUuid).
G1582NS100 = 122192928000000000
OUTSIDE_TXN, CONTINUE_TXN, ACK_TXN = 0, 1, 2
MASK64 = (1 << 64) - 1


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def documents(rng, n):
    """`n` documents whose word counts follow the measured sf0.01
    percentiles (DOC_WORDS_PCT) and are the same multiset for every
    seed, shuffled, so the quadratic per-document kernels do the same
    work whatever the seed; 5% end in "dup"."""
    at = (np.arange(n) + 0.5) / n * 100
    lengths = rng.permutation(np.rint(np.interp(
        at, np.arange(0, 101, 5), DOC_WORDS_PCT)).astype(int))
    dup = set(rng.choice(n, n // 20, replace=False).tolist())
    texts = []
    for i in range(n):
        text = " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), lengths[i]))
        texts.append(text + " dup" if i in dup else text)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(seed, out_dir, names, n_docs=N_DOCS):
    """Write the named parquet tables for `seed` under `out_dir`;
    return their uncompressed size in MB."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    made = {}
    if "documents" in names:
        made["documents"] = documents(rng, n_docs)
    for name, table in made.items():
        _write(table, f"{out_dir}/{name}.parquet")
    return sum(t.nbytes for t in made.values()) / (1024 * 1024)


# ---- the journal message stream -------------------------------------------

def uuid_hex(producer, clock, flags):
    """graft.functions.GazetteUuid.build, as 32 upper-case hex digits."""
    b = bytearray(16)
    low = (clock >> 4) & 0xFFFFFFFF
    b[0:4] = low.to_bytes(4, "big")
    b[4:6] = ((clock >> 36) & 0xFFFF).to_bytes(2, "big")
    b[6:8] = (((clock >> 52) & 0x0FFF) | 0x1000).to_bytes(2, "big")
    b[8:10] = ((((clock << 10) & 0x3C00) | (flags & 0x3FF) | 0x8000)).to_bytes(2, "big")
    b[10:16] = producer
    return b.hex().upper()


def mix64(x):
    """splitmix64 finalizer; the JVM side computes the same function."""
    x = (x + 0x9E3779B97F4A7C15) & MASK64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & MASK64
    return x ^ (x >> 31)


def messages(seed, n_events=N_EVENTS):
    """A UUID-stamped ndjson message stream and its committed ground truth.

    Events (the `events` table's schema) are split over N_PRODUCERS
    producers by user.  Each producer emits, in event-time order, a mix
    of OUTSIDE_TXN messages, CONTINUE..ACK transactions, transactions
    rolled back by a re-sent ACK of the last commit, and at-least-once
    replays of messages it already committed.  Returns (lines, truth)
    where truth has the committed event ids' count and order-free sums.
    """
    rng = np.random.default_rng([seed, 2])
    t0_us = 1704067200 * 1000000                      # 2024-01-01
    ts = np.sort(rng.integers(0, 30 * 86400 * 1000000, n_events)) + t0_us
    users = rng.integers(0, 150, n_events)
    etypes = rng.integers(0, len(EVENT_TYPES), n_events)
    values = np.round(rng.uniform(0, 50, n_events), 2)
    props = rng.integers(0, 100, n_events)
    producers = [bytes([0x01 | 0x02 * p, 0x5A, 0xC0, 0xDE, p, 0x10 + p])
                 for p in range(N_PRODUCERS)]
    per_prod = [[] for _ in range(N_PRODUCERS)]
    for i in range(n_events):
        per_prod[int(users[i]) % N_PRODUCERS].append(i)

    out = []                                          # (ts, producer, seq, line)
    committed = []
    n_rollback = n_replay = 0
    for p, idx in enumerate(per_prod):
        pid = producers[p]
        clock = 0
        last_commit = 0                               # the sequencer's minClock
        sent = []                                     # committed (uuid, event) lines
        seq = 0

        def emit(t, line):
            nonlocal seq
            out.append((t, p, seq, line))
            seq += 1

        def event_line(i, flags):
            nonlocal clock
            clock = max(clock + 16, ((int(ts[i]) * 10 + G1582NS100) << 4))
            u = uuid_hex(pid, clock, flags)
            return json.dumps({
                "uuid": u, "event_id": i, "ts": int(ts[i]), "user_id": int(users[i]),
                "event_type": EVENT_TYPES[etypes[i]], "value": float(values[i]),
                "props": '{"k": %d}' % props[i]}, separators=(",", ":"))

        def ack_line(c):
            return json.dumps({"uuid": uuid_hex(pid, c, ACK_TXN), "ack": 1},
                              separators=(",", ":"))

        j = 0
        first = True
        while j < len(idx):
            r = rng.random()
            if first or r < 0.45:                     # OUTSIDE_TXN
                i = idx[j]; j += 1
                line = event_line(i, OUTSIDE_TXN)
                emit(int(ts[i]), line)
                committed.append(i); sent.append(line)
                last_commit = clock
                first = False
            elif r < 0.85:                            # committed transaction
                k = min(int(rng.integers(2, 6)), len(idx) - j)
                lines = []
                for i in idx[j:j + k]:
                    line = event_line(i, CONTINUE_TXN)
                    emit(int(ts[i]), line)
                    lines.append(line)
                    committed.append(i)
                clock += 16
                emit(int(ts[idx[j + k - 1]]), ack_line(clock))
                last_commit = clock
                sent.extend(lines)
                j += k
            elif r < 0.93:                            # rolled-back transaction
                k = min(int(rng.integers(1, 4)), len(idx) - j)
                for i in idx[j:j + k]:
                    emit(int(ts[i]), event_line(i, CONTINUE_TXN))
                emit(int(ts[idx[j + k - 1]]), ack_line(last_commit))
                n_rollback += k
                j += k
            else:                                     # at-least-once replay
                k = min(int(rng.integers(1, 4)), len(sent))
                t = out[-1][0]
                for line in sent[-k:]:
                    emit(t, line)
                n_replay += k
    out.sort(key=lambda m: (m[0], m[1], m[2]))
    h1 = h2 = 0
    for i in committed:
        m = mix64(i)
        h1 = (h1 + m) & MASK64
        h2 = (h2 + mix64(m)) & MASK64
    truth = {"committed": len(committed), "id_sum": _signed(h1),
             "id_sum2": _signed(h2), "rolled_back": n_rollback,
             "replayed": n_replay, "messages": len(out)}
    return [m[3] for m in out], truth


def _signed(x):
    return x - (1 << 64) if x >= 1 << 63 else x


def stream(seed, out_dir, n_events=N_EVENTS):
    """Write the message stream as one ndjson file plus its ground truth."""
    os.makedirs(out_dir, exist_ok=True)
    lines, truth = messages(seed, n_events)
    with open(f"{out_dir}/messages.ndjson", "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    with open(f"{out_dir}/truth.json", "w") as f:
        json.dump(truth, f)
    return truth
