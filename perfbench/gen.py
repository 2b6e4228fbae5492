"""Seeded input generators for the benchmark.

Two families, both pure functions of ``seed``:

- ``write_corpus``: the ``documents`` and ``embeddings`` fixture tables
  ``pipeline_curation_e2e`` reads, in the column types and value
  distributions the query and its DuckDB oracle were written against.
  Row counts scale with ``sf`` like the reference fixtures (documents =
  50k x sf, embeddings = 20k x sf), with the fixtures' 500-row floor.
- ``CdcGenerator``: Debezium JSON envelopes for ``commerce.account`` and
  ``commerce.product`` (the reference's ``000_init.sql`` tables, with
  ``created_at`` as int64 epoch-micros), one topic per table with
  monotonically increasing offsets, plus the pure-Python
  last-writer-wins replay the benchmark checks the mirror against.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The fixture corpus vocabulary: 30 words drawn uniformly, with the
# English stopwords ("the", "a", "value") the lang-id and quality stages
# key on; near-duplicates are a copy of an earlier document plus "dup".
WORDS = (
    "spark window merge table column vector stream value data small join"
    " filter big group hash customer sort order slow line part fast row"
    " the agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)

CORPUS_TABLES = ("documents", "embeddings")


def _corpus(rng, n_docs: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[w] for w in words))
    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[x] for x in langs],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n_vec: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n_vec, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })


def write_corpus(out_dir: str, sf: float, seed: int) -> int:
    """Write ``documents`` and ``embeddings`` at scale ``sf`` for ``seed``
    as ``<out_dir>/<name>.parquet``, the layout
    ``cdc_poc_spark.tables.load_table`` reads; return the document count.
    Each table draws from its own child stream of ``seed``."""
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    docs_ss, emb_ss = np.random.SeedSequence(seed).spawn(2)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_corpus(np.random.default_rng(docs_ss), n_docs),
                   os.path.join(out_dir, "documents.parquet"))
    pq.write_table(_embeddings(np.random.default_rng(emb_ss), n_vec),
                   os.path.join(out_dir, "embeddings.parquet"))
    return n_docs


# ---------------------------------------------------------------------------
# CDC envelopes
# ---------------------------------------------------------------------------

TOPICS = {"account": "cdc.commerce.account", "product": "cdc.commerce.product"}
KEYS = {"account": "user_id", "product": "product_id"}
BASE_US = 1_713_192_083_639_740  # the reference README's golden MicroTimestamp
ZIPF_S = 1.1        # key skew of live updates and deletes
POISON_FRAC = 0.01  # share of live records that are malformed or op-less


class CdcGenerator:
    """Stateful envelope source for one run.

    Every record it emits is a dict ``{"value", "topic", "offset"}`` (the
    file-stream stand-in for a Kafka record), and every non-poisoned
    record is also kept as ``(table, offset, op, row)`` in ``events`` so
    ``replay`` and the log check need nothing from the engine.

    - ``snapshot(n)``: ``op=r`` reads of keys 1..n/2 in each table, in key
      order (uniform keys, insert-only).
    - ``live(n)``: about 70% ``u``, 20% ``c`` and 10% ``d``; updates and
      deletes pick a live key by a Zipf(``ZIPF_S``) rank, so a few keys are
      hot; creates take fresh keys. A ``POISON_FRAC`` share of records are
      poisoned (malformed JSON or a missing op); they consume an offset
      but change no state.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
        self.next_offset = {t: 0 for t in TOPICS}
        self.next_key = {t: 1 for t in TOPICS}
        self.live_keys: dict[str, list[int]] = {t: [] for t in TOPICS}
        self.pos: dict[str, dict[int, int]] = {t: {} for t in TOPICS}
        self.rows: dict[str, dict[int, dict]] = {t: {} for t in TOPICS}
        self.version = 0
        self.events: list[tuple[str, int, str, dict]] = []
        self.poisoned: list[tuple[str, int]] = []

    # -- state helpers -------------------------------------------------
    def _row(self, table: str, key: int, created_us: int) -> dict:
        self.version += 1
        if table == "account":
            return {"user_id": key, "email": f"user{key}.v{self.version}@example.com",
                    "created_at": created_us}
        return {"product_id": key, "product_name": f"Product {key} rev {self.version}",
                "created_at": created_us}

    def _add(self, table: str, key: int, row: dict) -> None:
        self.pos[table][key] = len(self.live_keys[table])
        self.live_keys[table].append(key)
        self.rows[table][key] = row

    def _remove(self, table: str, key: int) -> None:
        keys, pos = self.live_keys[table], self.pos[table]
        i = pos.pop(key)
        last = keys.pop()
        if last != key:
            keys[i] = last
            pos[last] = i
        del self.rows[table][key]

    def _zipf_key(self, table: str) -> int:
        keys = self.live_keys[table]
        rank = int(self.rng.zipf(ZIPF_S)) - 1
        return keys[rank % len(keys)]

    def _emit(self, table: str, op: str, before, after, ts_ms: int) -> dict:
        off = self.next_offset[table]
        self.next_offset[table] += 1
        payload = {
            "before": before, "after": after, "op": op, "ts_ms": ts_ms,
            "source": {"db": "postgres", "schema": "commerce", "table": table,
                       "lsn": sum(self.next_offset.values())},
        }
        self.events.append((table, off, op, after if after is not None else before))
        return {"value": json.dumps({"schema": None, "payload": payload}),
                "topic": TOPICS[table], "offset": off}

    def _poison(self, table: str) -> dict:
        off = self.next_offset[table]
        self.next_offset[table] += 1
        self.poisoned.append((table, off))
        key = KEYS[table]
        if self.rng.random() < 0.5:
            value = '{"schema": null, "payload": {"op": "u", "after": {"%s": 1' % key
        else:
            value = json.dumps({"schema": None, "payload": {"before": None, "after": {key: 1}}})
        return {"value": value, "topic": TOPICS[table], "offset": off}

    # -- public --------------------------------------------------------
    def snapshot(self, n: int, ts_ms: int) -> list[dict]:
        out = []
        for _ in range(n // 2):
            for table in TOPICS:
                key = self.next_key[table]
                self.next_key[table] += 1
                row = self._row(table, key, BASE_US + key)
                self._add(table, key, row)
                out.append(self._emit(table, "r", None, row, ts_ms))
        return out

    def live(self, n: int, ts_ms: int) -> list[dict]:
        out = []
        for _ in range(n):
            table = "account" if self.rng.random() < 0.5 else "product"
            if self.rng.random() < POISON_FRAC:
                out.append(self._poison(table))
                continue
            u = self.rng.random()
            if u < 0.2 or len(self.live_keys[table]) < 2:
                key = self.next_key[table]
                self.next_key[table] += 1
                row = self._row(table, key, ts_ms * 1000)
                self._add(table, key, row)
                out.append(self._emit(table, "c", None, row, ts_ms))
            elif u < 0.9:
                key = self._zipf_key(table)
                before = self.rows[table][key]
                row = dict(before, **self._row(table, key, before["created_at"]))
                self.rows[table][key] = row
                out.append(self._emit(table, "u", before, row, ts_ms))
            else:
                key = self._zipf_key(table)
                before = self.rows[table][key]
                self._remove(table, key)
                out.append(self._emit(table, "d", before, None, ts_ms))
        return out

    def replay(self) -> dict[str, dict[int, tuple]]:
        """Last-writer-wins current state per table, replayed from the
        recorded events by offset (independent of the live bookkeeping)."""
        state: dict[str, dict[int, tuple]] = {t: {} for t in TOPICS}
        for table, off, op, row in sorted(self.events, key=lambda e: (e[0], e[1])):
            key = row[KEYS[table]]
            if op == "d":
                state[table].pop(key, None)
            else:
                state[table][key] = tuple(sorted(row.items())) + (("seq", off),)
        return state


def write_jsonl(path: str, records: list[dict]) -> None:
    """Write records as JSON lines to ``path`` atomically (write beside,
    then rename), so a file stream never lists a half-written file."""
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), "." + os.path.basename(path))
    with open(tmp, "w") as fh:
        for r in records:
            fh.write(json.dumps(r))
            fh.write("\n")
    os.rename(tmp, path)
