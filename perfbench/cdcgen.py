"""Seeded generator of CDC change events and documents for the cdc-stream
workload.

The same seed always yields the same batches. The engine only ever sees the
rows written out here; the seed itself never reaches it.

Every batch holds:

* ``events``: the clean change log of that batch, one row per change, in
  global ``(ts, event_id)`` order. Cutting one globally ordered log into
  consecutive batches is what makes the streaming operators equal to their
  batch forms over the concatenated input: per key, every row of batch k
  sorts before every row of batch k+1.
* ``replays``: exact copies of recent events (this batch or the one before),
  delivered again the way an at-least-once upstream would. They go only to
  the raw ingest stream that ``dedupEvents`` cleans.
* ``docs``: documents for the incremental exact-dedup operator. Some are
  exact copies of an earlier original; those are the only ones that must be
  dropped.

The change log covers the adversarial cases of change queries: inserts,
updates and deletes over a fixed key space, several changes with the same
timestamp, an update followed by a delete of the same key inside one batch,
and a re-insert of a key after its tombstone.
"""
import json
import random

KEYS = 64
EVENTS_PER_BATCH = 100
DOCS_PER_BATCH = 16
REPLAY_FRACTION = 0.05
DUP_DOC_FRACTION = 0.25
TIE_PROBABILITY = 0.2
MAX_TS_STEP_NS = 500_000_000
BASE_TS_NS = 1_700_000_000_000_000_000

_VOCAB = [a + b + c for a in "bcdfghklmnprstvz" for b in "aeiou"
          for c in "lmnrstxz"]


def _props(op, rng):
    return json.dumps({"op": op, "src": rng.choice(["db1", "db2", "db3"])},
                      separators=(",", ":"))


class _Gen:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.ts = BASE_TS_NS
        self.event_id = 0
        self.doc_id = 0
        self.live = {}          # key -> last value of a live key
        self.tombstoned = set() # keys whose last change was a delete
        self.originals = []     # texts of documents that must survive

    def _tick(self):
        if self.rng.random() >= TIE_PROBABILITY:
            self.ts += self.rng.randint(1, MAX_TS_STEP_NS)
        return self.ts

    def _event(self, key, op):
        self.event_id += 1
        if op == "delete":
            value = self.live.pop(key)
            self.tombstoned.add(key)
        else:
            value = round(self.rng.uniform(0.0, 1000.0), 2)
            self.live[key] = value
            self.tombstoned.discard(key)
        return {"event_id": self.event_id, "ts": self._tick(), "user_id": key,
                "event_type": op, "value": value,
                "props": _props(op, self.rng)}

    def _random_change(self):
        key = self.rng.randrange(KEYS)
        if key not in self.live:
            return self._event(key, "insert")
        return self._event(key, "delete" if self.rng.random() < 0.1 else "update")

    def _batch_events(self):
        # half the batch first, so even the first batch has live keys
        out = [self._random_change() for _ in range(EVENTS_PER_BATCH // 2)]
        # an update followed by a delete of one key inside this batch
        key = self.rng.choice(sorted(self.live))
        out.append(self._event(key, "update"))
        out.append(self._event(key, "delete"))
        # a re-insert of a key that a change tombstoned
        key = self.rng.choice(sorted(self.tombstoned))
        out.append(self._event(key, "insert"))
        while len(out) < EVENTS_PER_BATCH:
            out.append(self._random_change())
        return out

    def _batch_docs(self):
        out = []
        for _ in range(DOCS_PER_BATCH):
            self.doc_id += 1
            if self.originals and self.rng.random() < DUP_DOC_FRACTION:
                text = self.rng.choice(self.originals)
                out.append({"doc_id": self.doc_id, "text": text, "dup": True})
            else:
                n = self.rng.randint(30, 60)
                text = " ".join(self.rng.choice(_VOCAB) for _ in range(n))
                self.originals.append(text)
                out.append({"doc_id": self.doc_id, "text": text, "dup": False})
        return out


def generate(seed, n_batches):
    """Return ``n_batches`` batches as a list of dicts with the keys
    ``events``, ``replays`` and ``docs``."""
    gen = _Gen(seed)
    batches = []
    previous = []
    for _ in range(n_batches):
        events = gen._batch_events()
        pool = previous + events
        n_replays = max(1, int(len(events) * REPLAY_FRACTION))
        replays = [dict(e) for e in gen.rng.sample(pool, n_replays)]
        batches.append({"events": events, "replays": replays,
                        "docs": gen._batch_docs()})
        previous = events
    return batches


def write(path, seed, n_batches):
    """Write the batches as JSON lines, one batch per line."""
    with open(path, "w") as f:
        for b in generate(seed, n_batches):
            f.write(json.dumps(b, separators=(",", ":")) + "\n")
