"""The warehouse-mode change log of ``replay_trickle`` and the oracle that
checks it.

The log is ``cdc.fixtures.generate_change_log``'s, post-processed: into
each batch it injects malformed rows (to the dead-letter queue), plain-http
rows (dropped by the ``https_only`` expectation) and Debezium placeholders
on U events whose key has no other event in that batch, so the placeholder
resolves from table state alone.
``fold`` is ``cdc.fixtures.reference_fold`` extended to skip the injected
rows and resolve the placeholders.
"""

from __future__ import annotations

import base64
import csv
import hashlib
import json
import os
import random
from collections import Counter

from csv_cruncher_spark.cdc.extract import extract_text
from csv_cruncher_spark.cdc.fixtures import ChangeLogSpec, generate_change_log
from csv_cruncher_spark.cdc.patch import DEBEZIUM_PLACEHOLDER

PLACEHOLDER_B64 = base64.b64encode(DEBEZIUM_PLACEHOLDER.encode()).decode()
#: the three reject reasons ``read_change_batch`` classifies
MALFORMED = ("null_key", "unknown_op", "bad_timestamp")
NULL = "\\N"
#: rows injected into each warehouse-mode batch
MALFORMED_PER_BATCH = 3
HTTP_PER_BATCH = 2
PLACEHOLDERS_PER_BATCH = 4


def warehouse_log(
    out_dir: str,
    seed: int,
    n_batches: int,
    events: int,
    n_urls: int,
    v2_from: int,
    v3_from: int,
) -> tuple[list[str], dict]:
    """Write the warehouse-mode log; return (paths, injected) where
    ``injected[batch_id]`` counts what was put into each batch."""
    paths = generate_change_log(ChangeLogSpec(
        n_urls=n_urls, n_batches=n_batches, events_per_batch=events,
        seed=seed, out_dir=out_dir,
        schema_v2_from_batch=v2_from, schema_v3_from_batch=v3_from,
    ))
    rng = random.Random(seed * 7919 + 1)
    injected = {}
    for path in paths:
        with open(path, newline="") as f:
            rows = list(csv.reader(f))
        header, body = rows[0], rows[1:]
        col = {c: i for i, c in enumerate(header)}
        donor = list(next(r for r in body if r[col["op"]] != "D"))
        per_url = Counter(r[col["url"]] for r in body)
        singles = [i for i, r in enumerate(body)
                   if r[col["op"]] == "U" and per_url[r[col["url"]]] == 1
                   and r[col["url"]] != donor[col["url"]]]
        n_ph = min(PLACEHOLDERS_PER_BATCH, len(singles))
        for i in rng.sample(singles, n_ph):
            body[i][col["html"]] = PLACEHOLDER_B64
        extra = []
        for k in range(MALFORMED_PER_BATCH):
            bad = list(donor)
            reason = MALFORMED[k % len(MALFORMED)]
            if reason == "null_key":
                bad[col["url"]] = ""
            elif reason == "unknown_op":
                bad[col["op"]] = "X"
            else:
                bad[col["warc_ts"]] = "not-a-time"
            extra.append(bad)
        for k in range(HTTP_PER_BATCH):
            plain = list(donor)
            plain[col["op"]] = "I"
            plain[col["url"]] = f"http://plain.example.com/{os.path.basename(path)}/{k}"
            extra.append(plain)
        for row in extra:
            body.insert(rng.randrange(len(body) + 1), row)
        with open(path, "w", newline="") as f:
            csv.writer(f).writerows([header] + body)
        injected[os.path.basename(path)] = {
            "malformed": MALFORMED_PER_BATCH,
            "http": HTTP_PER_BATCH,
            "placeholders": n_ph,
        }
    return paths, injected


def _is_malformed(row: dict) -> bool:
    if not row["url"]:
        return True
    if row["op"] not in ("I", "U", "D"):
        return True
    ts = row["warc_ts"]
    return bool(ts) and not (len(ts) == 19 and ts[4] == "-" and ts[13] == ":")


def fold(batch_paths: list[str], warehouse: bool) -> dict[str, tuple[str, str | None]]:
    """Single-process oracle: {url: (warc_ts, text)} after replaying the
    batches in order with last-writer-wins per url. With ``warehouse``,
    malformed and plain-http rows are skipped and placeholder html resolves
    from the state before the batch (the injected placeholders sit on keys
    with one event in their batch, so there is no in-batch carry)."""
    state: dict[str, dict] = {}
    for path in batch_paths:
        renames = {}
        if os.path.exists(path + ".meta.json"):
            with open(path + ".meta.json") as f:
                renames = json.load(f).get("renames", {})
        inv = {v: k for k, v in renames.items()}
        winners: dict[str, tuple] = {}
        with open(path, newline="") as f:
            for row_idx, row in enumerate(csv.DictReader(f)):
                row = {inv.get(k, k): v for k, v in row.items()}
                if warehouse:
                    if _is_malformed(row) or not row["url"].startswith("https://"):
                        continue
                    if row["html"] == PLACEHOLDER_B64:
                        old = state.get(row["url"])
                        row["html_bytes"] = old["html"] if old else None
                key = (row["warc_ts"], row_idx)
                cur = winners.get(row["url"])
                if cur is None or key >= cur[0]:
                    winners[row["url"]] = (key, row)
        for url, (_key, row) in winners.items():
            ts = row["warc_ts"]
            old = state.get(url)
            if old is not None and ts < old["warc_ts"]:
                continue
            if row["op"] == "D":
                state.pop(url, None)
                continue
            html = row["html_bytes"] if "html_bytes" in row else base64.b64decode(row["html"])
            state[url] = {"warc_ts": ts, "html": html}
    return {u: (s["warc_ts"], extract_text(s["html"])) for u, s in state.items()}


def digest(rows) -> tuple[int, str]:
    """Order-independent digest of (url, warc_ts, text) rows."""
    lines = sorted(
        f"{u}\t{ts}\t{NULL if text is None else text}" for u, ts, text in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(lines), h.hexdigest()


def oracle_digest(batch_paths: list[str], warehouse: bool) -> tuple[int, str]:
    state = fold(batch_paths, warehouse)
    return digest((u, ts, text) for u, (ts, text) in state.items())
