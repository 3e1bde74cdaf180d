"""Seeded CDC envelope generator for the cdc_stream workload.

Envelopes are built from the benchmark's copy of the `events` and
`documents` tables (data/). Every property below is there to give one
part of the pipeline real work to do; README.md explains each.

  * op mix over c/r/u/d ............ upsert and delete routing in the mirror
  * payload-wrapped and bare shapes . both branches of Cdc.parse
  * ~1% malformed JSON .............. the parser's drop path
  * late events (50-90 min behind) .. watermark drops in the stateful sinks
  * id reuse ........................ last-writer-wins merges in the mirror
  * content reuse (exact and near) .. content dedup and LSH candidates

The same seed always gives the same lines. `after.views_count` (or
`before.views_count` for deletes) carries the envelope's sequence
number, so a checker can restore delivery order after parsing.
"""
import json
import random

TABLES = (("articles", 45), ("media", 25), ("article_changes", 20), ("unknown_tbl", 10))
OPS = (("c", 40), ("u", 35), ("r", 10), ("d", 15))
# tables whose late envelopes keep a tombstone to outrank them; media
# hard-deletes leave none, so an older upsert delivered after the
# delete re-creates the row by design (Pipelines.applyCdcBatch)
LATE_TABLES = ("articles", "article_changes")

MALFORMED_SHARE = 0.01
LATE_SHARE = 0.03
EXACT_REUSE_SHARE = 0.12
NEAR_REUSE_SHARE = 0.08
# Late envelopes start after the cdc_stream warm-up, which runs two
# triggers per sink: a stateful operator drops rows behind the watermark
# of the batch before last. With at most 800 envelopes (800 s of event
# time) per trigger that watermark trails the newest envelope by at most
# 2 x 800 s + 10 min = 36.7 min, so envelopes 50 min or more behind are
# always dropped.
LATE_AFTER = 200
LATE_MIN_MINUTES = 50
LATE_MAX_MINUTES = 90
STEP_MS = 1000
WATERMARK_MS = 10 * 60 * 1000
# The first envelope lands this long before a 30-minute boundary, so the
# first trending-alert window (30-minute windows aligned to the epoch)
# closes once the newest envelope is 4 + 10 min past the first one: a
# 10 s cdc_stream run spans 200 + 800 envelopes (16.7 min), so every seed
# gives the alerts check a closed window to compare.
ALERT_WINDOW_MS = 30 * 60 * 1000
ALERT_LEAD_MS = 4 * 60 * 1000


def _pick(rng, weighted):
    total = sum(w for _, w in weighted)
    x = rng.uniform(0, total)
    for v, w in weighted:
        x -= w
        if x <= 0:
            return v
    return weighted[-1][0]


def _near_dup(rng, text):
    words = text.split(" ")
    for _ in range(max(1, len(words) // 25)):
        i = rng.randrange(len(words))
        words[i] = words[rng.randrange(len(words))]
    return " ".join(words)


def load_tables(data_dir):
    """(events rows sorted by ts, documents rows) from the parquet copies."""
    import pyarrow.parquet as pq
    ev = pq.read_table(f"{data_dir}/events.parquet",
                       columns=["event_id", "ts", "user_id", "event_type", "value"])
    ev = ev.sort_by([("ts", "ascending"), ("event_id", "ascending")]).to_pylist()
    docs = pq.read_table(f"{data_dir}/documents.parquet",
                         columns=["doc_id", "text", "source"])
    docs = docs.sort_by("doc_id").to_pylist()
    return ev, docs


def envelopes(seed, count, events, docs):
    """`count` envelope lines (str, no newline) for `seed`."""
    rng = random.Random(seed)
    n_users = max(e["user_id"] for e in events) + 1
    start = rng.randrange(len(events))
    start_ms = int(events[start]["ts"].timestamp() * 1000)
    base_ms = (start_ms // ALERT_WINDOW_MS + 1) * ALERT_WINDOW_MS - ALERT_LEAD_MS
    used = []
    out = []
    for k in range(count):
        e = events[(start + k) % len(events)]
        ts_ms = base_ms + k * STEP_MS + rng.randrange(STEP_MS)
        late = k >= LATE_AFTER and rng.random() < LATE_SHARE
        if late:
            table = LATE_TABLES[rng.randrange(len(LATE_TABLES))]
            op = "u"
            ts_ms -= rng.randrange(LATE_MIN_MINUTES, LATE_MAX_MINUTES + 1) * 60 * 1000
        else:
            table = _pick(rng, TABLES)
            op = _pick(rng, OPS)
        r = rng.random()
        if used and r < EXACT_REUSE_SHARE:
            text, source = used[rng.randrange(len(used))]
        elif used and r < EXACT_REUSE_SHARE + NEAR_REUSE_SHARE:
            text, source = used[rng.randrange(len(used))]
            text = _near_dup(rng, text)
        else:
            d = docs[rng.randrange(len(docs))]
            text, source = d["text"], d["source"]
            used.append((text, source))
        row_id = e["user_id"] + n_users * rng.randrange(4)
        image = {
            "id": row_id,
            "title": " ".join(text.split(" ")[:6]),
            "content": text,
            "category": e["event_type"],
            "source": source,
            "views_count": k,
            "stored_date": e["ts"].strftime("%Y-%m-%d"),
            "value": e["value"],
            "is_deleted": False,
        }
        body = {
            "op": op,
            "before": image if op in ("u", "d") else None,
            "after": None if op == "d" else image,
            "source": {"table": table},
            "ts_ms": ts_ms,
        }
        env = {"payload": body} if rng.random() < 0.5 else body
        line = json.dumps(env, separators=(",", ":"))
        if rng.random() < MALFORMED_SHARE:
            line = line[: rng.randrange(5, len(line) // 2)]
        out.append(line)
    return out
