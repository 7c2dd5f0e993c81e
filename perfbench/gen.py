"""Seeded input generators for the four benchmark workloads.

Each generator writes the files the library reads plus ``truth.json``,
the ground truth its output check needs. Shapes (row counts, group-size
distributions, planted rates) are fixed functions of the size; the seed
only decides content and order, so every seed costs the same work.
The same seed gives byte-identical files (see :func:`fingerprint`).
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONTHS = [
    "Jan", "january", "JAN", "Feb", "febr", "Mar", "march", "Apr", "april",
    "May", "Jun", "june", "Jul", "july", "Aug", "Sep", "sept", "Oct",
    "october", "Nov", "Dec", "dec", "Spring", "Summer", "Fall", "winter",
]


def fingerprint(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _dump_truth(out_dir: str, truth: dict) -> None:
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)


def heavy_tailed_sizes(groups: int, largest: int) -> list[int]:
    """Deterministic heavy-tailed group sizes: a Zipf head of
    ``largest / rank`` rows plus 1–8 rows per group, so most groups hold
    under 10 rows (about 8 on average) and the first few hold hundreds."""
    return [largest // (rank + 1) + 1 + rank % 8 for rank in range(groups)]


# ---------------------------------------------------------------------------
# serials_etl: Alma-style item CSV + remote item store
# ---------------------------------------------------------------------------


def _chron_years(n: int, base: int, scheme: int) -> tuple[list[int], list[str]]:
    """True 4-digit years of a serial's items (nondecreasing, spanning
    under a century) and the Chron strings as exported, with two-digit
    years per scheme (the tools/make_fixtures.py schemes)."""
    per_year = max(1, n // 60)
    true = [base + k // per_year for k in range(n)]
    shown = [str(y) for y in true]
    if scheme == 0:  # odd rows two-digit: both-anchor / only-prev branches
        for k in range(1, n, 2):
            shown[k] = shown[k][2:]
    elif scheme == 1:  # first row two-digit: only-next branch
        shown[0] = shown[0][2:]
    elif scheme == 2:  # last row two-digit: only-prev branch
        shown[-1] = shown[-1][2:]
    elif scheme == 3:  # chained run: propagation through repaired rows
        for k in range(1, min(4, n)):
            shown[k] = shown[k][2:]
    return true, shown


def _description(rng: random.Random, vol: int, y: str, y2: str, style: int) -> str:
    mon = rng.choice(MONTHS)
    mon2 = rng.choice(MONTHS)
    if style == 0:
        return f"v.{vol} no.{rng.randint(1, 12)} ({mon} {y})"
    if style == 1:
        return f"Vol {vol} ({y} {mon})" if len(y) == 4 else f"v {vol} ({mon} {y})"
    if style == 2:
        return f"v.{vol} ({mon} {y} - {mon2} {y2})"
    if style == 3:
        return f"ser. 2 v. {vol} no {vol}-{vol + 1} ({mon} {y})"
    if style == 4:
        return f"v{vol} pt.{rng.randint(1, 4)} ({mon} {y})"
    if style == 5:
        return f"v {vol} nos. {vol}/{vol + 1} ({y})"
    return rng.choice([f"index {y}", "supplement", f"{y} only", f"misc issue {vol}"])


def gen_serials(out_dir: str, seed: int, serials: int, largest: int) -> dict:
    """``items.csv`` (split-on-comma Alma export), ``remote.parquet``
    (the item store update_stage enriches from) and the truth.

    Every seventh serial is *planted*: only ``v.N no.M (Mon YYYY)``
    descriptions with odd rows as two-digit years, so its expected
    ``Enum A`` is ``v.N`` and its expected ``Chron I`` is the true
    four-digit year on every row (both-anchor and only-prev repairs)."""
    rng = random.Random(seed)
    sizes = heavy_tailed_sizes(serials, largest)
    rng.shuffle(sizes)
    os.makedirs(out_dir, exist_ok=True)
    rows: list[list[str]] = []
    planted: dict[str, list[str]] = {}
    n_items = sum(sizes)
    barcodes = list(range(30_000_000, 30_000_000 + 2 * n_items, 2))
    rng.shuffle(barcodes)
    bi = 0
    for g, n in enumerate(sizes):
        mms = str(99_100_000_000_000 + g * 97 + rng.randint(0, 90))
        base = rng.randint(1930, 1990)
        is_planted = g % 7 == 0
        scheme = 0 if is_planted else rng.randint(0, 4)
        true, shown = _chron_years(n, base, scheme)
        for k in range(n):
            vol = k + 1
            bc = str(barcodes[bi])
            bi += 1
            if is_planted:
                desc = f"v.{vol} no.{rng.randint(1, 12)} ({rng.choice(MONTHS)} {shown[k]})"
                planted[bc] = [f"v.{vol}", str(true[k])]
            else:
                y2 = str(true[k] + 1)[-len(shown[k]):]
                desc = _description(rng, vol, shown[k], y2, rng.randint(0, 6))
                roll = rng.random()
                if roll < 0.004:
                    bc = ""  # missing barcode → flagged into err_
                elif roll < 0.008:
                    bc = "i" + bc  # item-level i-barcode → flagged
            status = rng.choice(["Item in place", "Item not in place", ""])
            ptype = rng.choice(["Loan", "Missing", "Transit", ""])
            rows.append([mms, bc, f"Journal {g}", desc, status, ptype])
    rng.shuffle(rows)
    header = ["MMS ID", "Barcode", "title", "Description", "Status", "Process type"]
    with open(os.path.join(out_dir, "items.csv"), "w", newline="") as fh:
        fh.write(",".join(header) + "\n")
        for r in rows:
            fh.write(",".join(r) + "\n")

    # remote store: ~1% of input barcodes missing (fetch miss), some
    # non-200 fetches and PUT failures, plus barcodes the input lacks
    remote_bc: list[str] = []
    http: list[int] = []
    put: list[int] = []
    for r in rows:
        bc = r[1]
        if not bc or bc.startswith("i") or rng.random() < 0.01:
            continue
        remote_bc.append(bc)
        roll = rng.random()
        http.append(503 if roll < 0.01 else 404 if roll < 0.015 else 200)
        put.append(500 if rng.random() < 0.01 else 200)
    for k in range(n_items // 50):
        remote_bc.append(str(40_000_000 + k))
        http.append(200)
        put.append(200)
    m = len(remote_bc)
    code = pa.struct([("code", pa.string()), ("desc", pa.string())])
    item_type = pa.struct(
        [
            ("physical_material_type", code),
            ("policy", code),
            ("enumeration_a", pa.string()),
            ("enumeration_b", pa.string()),
            ("chronology_i", pa.string()),
            ("chronology_j", pa.string()),
        ]
    )
    items = [
        {
            "physical_material_type": {"code": "ISSUE", "desc": "Issue"},
            "policy": {"code": "circ", "desc": "circulating"},
            "enumeration_a": None if i % 3 == 0 else f"v.{i % 40}",
            "enumeration_b": None,
            "chronology_i": None if i % 4 == 0 else str(1950 + i % 70),
            "chronology_j": None,
        }
        for i in range(m)
    ]
    remote = pa.table(
        {
            "barcode": pa.array(remote_bc, pa.string()),
            "update_url": pa.array(
                [f"https://alma.example/items/{b}" for b in remote_bc], pa.string()
            ),
            "http_status": pa.array(http, pa.int32()),
            "put_status": pa.array(put, pa.int32()),
            "item": pa.array(items, item_type),
        }
    )
    _write_parquet(remote, os.path.join(out_dir, "remote.parquet"))
    truth = {
        "rows": len(rows),
        "serials": serials,
        "barcodes": sorted(r[1] for r in rows),
        "planted": planted,
    }
    _dump_truth(out_dir, truth)
    return {"rows": len(rows), "groups": serials}


# ---------------------------------------------------------------------------
# corpus_dedup: documents parquet with planted duplicates and PII
# ---------------------------------------------------------------------------

STOP = ["the", "a", "of", "and", "in"]


def _word_bank(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    return np.array(["".join(rng.choice(letters, n)) for n in lens])


def gen_corpus(out_dir: str, seed: int, docs: int) -> dict:
    """``docs.parquet`` (doc_id, text). Planted at fixed rates:

    - 10% too short and 5% symbol-heavy documents fail ``quality_gate``;
    - 4% of documents are exact copies of a passing document;
    - near-duplicate clusters of a document and 2 perturbed copies
      (2% of tokens, at least one, swapped) cover 15% of documents, so their pairs have Jaccard well
      above 0.5;
    - 10% of documents carry one e-mail and one phone number.

    Truth: the documents the gate keeps, the rows the lake must hold
    after exact dedup, and every planted near-duplicate pair."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = _word_bank(rng, 5000)
    zipf_p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    zipf_p /= zipf_p.sum()

    def body(n_tok: int) -> list[str]:
        words = vocab[rng.choice(len(vocab), n_tok, p=zipf_p)].tolist()
        stop_at = rng.random(n_tok) < 0.25
        for i in np.flatnonzero(stop_at):
            words[i] = STOP[i % len(STOP)]
        return words

    n_short = docs // 10
    n_symbol = docs // 20
    n_exact = docs // 25
    n_clusters = (docs * 15 // 100) // 3
    n_pii = docs // 10
    n_unique = docs - n_exact - 2 * n_clusters  # cluster heads are unique docs
    texts: list[str] = []
    kind: list[str] = []
    for i in range(n_unique):
        if i < n_short:
            texts.append(" ".join(body(int(rng.integers(10, 40)))))
            kind.append("short")
        elif i < n_short + n_symbol:
            w = body(int(rng.integers(60, 120)))
            texts.append(" ".join(t + "#$%" for t in w))
            kind.append("symbol")
        else:
            w = body(int(rng.integers(60, 120)))
            if i < n_short + n_symbol + n_pii:
                w.insert(int(rng.integers(0, len(w))), f"user{i}@mail.example.org")
                w.insert(int(rng.integers(0, len(w))), f"+1 555 {100000 + i}")
            texts.append(" ".join(w))
            kind.append("good")
    good_idx = [i for i, k in enumerate(kind) if k == "good"]
    heads = rng.choice(good_idx, n_clusters + n_exact, replace=False)
    cluster_heads, exact_src = heads[:n_clusters], heads[n_clusters:]
    members: list[list[int]] = []
    for h in cluster_heads:
        group = [int(h)]
        for _ in range(2):
            w = texts[h].split(" ")
            swap = rng.random(len(w)) < 0.02
            swap[rng.integers(0, len(w))] = True  # never an exact copy
            for j in np.flatnonzero(swap):
                pick = int(rng.integers(0, len(vocab)))
                if vocab[pick] == w[j]:
                    pick = (pick + 1) % len(vocab)
                w[j] = str(vocab[pick])
            texts.append(" ".join(w))
            kind.append("near")
            group.append(len(texts) - 1)
        members.append(group)
    for s in exact_src:
        texts.append(texts[s])
        kind.append("exact")
        members.append([int(s), len(texts) - 1])
    order = rng.permutation(len(texts))
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[order] = np.arange(1, len(texts) + 1) * 7 + 1000
    table = pa.table(
        {
            "doc_id": pa.array(doc_id[order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
        }
    )
    _write_parquet(table, os.path.join(out_dir, "docs.parquet"))
    gate_pass = sum(k in ("good", "near", "exact") for k in kind)
    pairs = sorted(
        (min(int(doc_id[a]), int(doc_id[b])), max(int(doc_id[a]), int(doc_id[b])))
        for grp in members
        for x, a in enumerate(grp)
        for b in grp[x + 1:]
    )
    truth = {
        "rows": len(texts),
        "gate_pass": gate_pass,
        "lake_rows": gate_pass - n_exact,
        "planted_pairs": pairs,
        "clusters": [[int(doc_id[i]) for i in grp] for grp in members],
    }
    _dump_truth(out_dir, truth)
    return {"rows": len(texts)}


# ---------------------------------------------------------------------------
# lake_upsert: base table + upsert batches with last-writer-wins truth
# ---------------------------------------------------------------------------

LAKE_SCHEMA = [
    ("barcode", "bigint"),
    ("mms_id", "bigint"),
    ("status", "string"),
    ("copies", "int"),
    ("round", "int"),
]
_STATUS = np.array(["in place", "on loan", "missing", "transit", "bindery"])


def _lake_table(keys: np.ndarray, rnd: int, rng: np.random.Generator) -> pa.Table:
    return pa.table(
        {
            "barcode": pa.array(keys, pa.int64()),
            "mms_id": pa.array(keys // 1000 + 99_000_000, pa.int64()),
            "status": pa.array(_STATUS[rng.integers(0, 5, len(keys))].tolist(), pa.string()),
            "copies": pa.array(rng.integers(1, 9, len(keys)).astype(np.int32), pa.int32()),
            "round": pa.array(np.full(len(keys), rnd, np.int32), pa.int32()),
        }
    )


def lake_checksum(t: pa.Table) -> list[int]:
    """Order-free checksum of a lake state: row count, key sum and
    three weighted sums (all exact 64-bit-safe integers)."""
    k = t.column("barcode").to_numpy().astype(object)
    c = t.column("copies").to_numpy().astype(object)
    r = t.column("round").to_numpy().astype(object)
    s = np.array([len(x) for x in t.column("status").to_pylist()], dtype=object)
    return [
        len(k),
        int(k.sum()),
        int((k % 1009 * c).sum()),
        int((k % 997 * (r + 1)).sum()),
        int((k % 983 * s).sum()),
    ]


def gen_lake(out_dir: str, seed: int, base_rows: int, rounds: int, batch_rows: int) -> dict:
    """``base.parquet`` (even barcodes, ingest-sorted) and
    ``batch_{r}.parquet``: unique keys, half updates of live keys and
    half inserts of unused odd keys, so every batch lands across the
    whole key range. Truth: the last-writer-wins final table checksum."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    keys = np.arange(base_rows, dtype=np.int64) * 2 + 10_000_000
    state = _lake_table(keys, 0, rng)
    _write_parquet(state, os.path.join(out_dir, "base.parquet"))
    free_odd = rng.permutation(np.arange(base_rows, dtype=np.int64) * 2 + 10_000_001)
    fi = 0
    for r in range(1, rounds + 1):
        live = state.column("barcode").to_numpy()
        upd = rng.choice(live, batch_rows // 2, replace=False)
        ins = free_odd[fi:fi + batch_rows - len(upd)]
        fi += len(ins)
        bkeys = rng.permutation(np.concatenate([upd, ins]))
        batch = _lake_table(bkeys, r, rng)
        _write_parquet(batch, os.path.join(out_dir, f"batch_{r}.parquet"))
        keep = pa.array(~np.isin(live, bkeys))
        state = pa.concat_tables([state.filter(keep), batch])
    inserts = batch_rows - batch_rows // 2
    truth = {
        "rows": base_rows + rounds * batch_rows,
        "round_rows": [base_rows + r * inserts for r in range(rounds + 1)],
        # an update emits a delete and an insert, an insert one insert
        "changes_per_round": batch_rows + batch_rows // 2,
        "final": lake_checksum(state),
    }
    _dump_truth(out_dir, truth)
    return {"rows": base_rows + rounds * batch_rows}


# ---------------------------------------------------------------------------
# events_sessionize: time-sliced event files, heavy-tailed users
# ---------------------------------------------------------------------------

GAP_S = 1800
WATERMARK_S = 7200


def sessions_closed_form(user: np.ndarray, ts: np.ndarray) -> int:
    """Session rows ``sessionize_stateful`` emits on a full drain — the
    stream_session oracle's rule: every non-final session per user,
    plus final sessions whose ``end + gap`` is strictly below the final
    watermark (max event time − 2 h)."""
    order = np.lexsort((ts, user))
    u, t = user[order], ts[order]
    new_user = np.r_[True, u[1:] != u[:-1]]
    start = new_user | np.r_[True, (t[1:] - t[:-1]) > GAP_S]
    last = np.r_[start[1:], True]  # last event of each session
    final = np.r_[new_user[1:], True]  # last event of each user
    wm_ms = int(ts.max()) * 1000 - WATERMARK_S * 1000
    non_final = int((last & ~final).sum())
    closed_final = int(((t[final] + GAP_S) * 1000 < wm_ms).sum())
    return non_final + closed_final


def gen_events(out_dir: str, seed: int, users: int, events: int, files: int) -> dict:
    """``events/part-{k}.parquet`` (event_id, ts, user_id, event_type,
    value). File k holds one day, and days follow each other, so no
    event is ever behind the watermark. Users are Zipf-weighted (a few
    heavy users, a long tail). ts is whole seconds (TIMESTAMP µs).
    Truth: the closed-form session count and the per-user last event."""
    rng = np.random.default_rng(seed)
    ev_dir = os.path.join(out_dir, "events")
    os.makedirs(ev_dir, exist_ok=True)
    w = 1.0 / np.arange(1, users + 1) ** 0.9
    w /= w.sum()
    user_ids = rng.permutation(users).astype(np.int64) + 5_000
    day0 = 1_700_000_000 - 1_700_000_000 % 86_400
    per = events // files
    all_u, all_t = [], []
    eid = 0
    types = np.array(["view", "click", "cart", "buy"])
    for k in range(files):
        u = user_ids[rng.choice(users, per, p=w)]
        t = day0 + k * 86_400 + np.sort(rng.integers(0, 86_400, per))
        ids = np.arange(eid, eid + per, dtype=np.int64)
        eid += per
        tbl = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(t * 1_000_000, pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(u, pa.int64()),
                "event_type": pa.array(types[rng.integers(0, 4, per)].tolist(), pa.string()),
                "value": pa.array(np.round(rng.random(per) * 100, 2), pa.float64()),
            }
        )
        path = os.path.join(ev_dir, f"part-{k:03d}.parquet")
        _write_parquet(tbl, path)
        # the file source reads files in modification-time order; files
        # written within one millisecond would tie, and a later day read
        # first puts the earlier day behind the watermark. Each day's
        # file is stamped as landing at the end of its day.
        landed = day0 + (k + 1) * 86_400
        os.utime(path, (landed, landed))
        all_u.append(u)
        all_t.append(t)
    u = np.concatenate(all_u)
    t = np.concatenate(all_t)
    truth = {
        "rows": int(len(u)),
        "sessions": sessions_closed_form(u, t),
        "users": int(len(np.unique(u))),
        "events": int(len(u)),
        "last_event_id_sum": _last_event_sum(u, t),
    }
    _dump_truth(out_dir, truth)
    return {"rows": int(len(u))}


def _last_event_sum(user: np.ndarray, ts: np.ndarray) -> int:
    """Sum over users of the event_id of their latest event by
    (ts, event_id) — event ids are the global row index here."""
    eid = np.arange(len(user), dtype=np.int64)
    order = np.lexsort((eid, ts, user))
    last = np.r_[user[order][1:] != user[order][:-1], True]
    return int(eid[order][last].sum())
