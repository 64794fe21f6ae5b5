"""Generate the SKEWED local fixture at /tmp/sfskew.

The driver fixtures are uniform (no natural skew — COVERAGE.md fixture
caveats), so every skew claim in the repo (the three window→join
hardenings in the text ops, SON heavy hitters, the skew-profile
diagnostic) has so far been validated against *derived* keys and
reasoning alone. This generator produces a fixture with REAL skew so
those plans can be measured (point ``SPARK_GRAFT_SF_DIR`` at it and run
``bench.py`` or a registry op; PERF.md "skewed fixture experiment"
records the original results):

* ``documents``: sf0.1's 5k docs replicated 20× (word-shuffled per
  replica like make_sf1.py, so replicas aren't near-dups) = 100k docs;
  then 80% of docs get an 80-token SINGLE-REPEATED-WORD spam suffix
  ("buy buy ... buy") appended once. Every boilerplate trigram is the
  SAME trigram, so ~6.2M of ~11M trigram instance rows land on ONE
  xxhash64 key (a 299× max/median partition imbalance at 256
  partitions, PERF.md) — the shape that pins a multi-million-row
  window sort onto one task. A /tmp/sfskew_short sibling truncates
  base text to 12 tokens for the coverage-op experiment.
* ``events``: sf0.1's 100k events replicated 10× = 1M rows, with
  user_id REASSIGNED from a Zipf(s=1.2) draw over the same 1500-user
  population — the top user carries ~8% of all events. Timestamps,
  values, types keep their original (replica-offset) distributions.
* all other tables: copied from sf0.1 unchanged, so the directory is
  a complete sf_dir any registry query can run against.

Deterministic (fixed seeds). Usage:
    python scripts/make_skewed.py [dest_dir]
"""

from __future__ import annotations

import os
import random
import shutil
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
DST = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfskew"
DOC_REPLICAS = 20
EVT_REPLICAS = 10
# a single repeated token concentrates ALL boilerplate n-grams on ONE
# hash key (a "buy buy buy ..." spam suffix): trigram enumeration gets
# ~6M instance rows on one xxhash64 key — the shape where a window
# partitioned on the gram key pins a multi-million-row sort onto one
# task. (A natural-sentence boilerplate spreads over ~80 keys and, for
# ops that array_distinct per doc, caps each key at n_docs rows —
# measured first, not skewed enough to distinguish the plans.)
BOILERPLATE = " ".join(["buy"] * 80)
BOILER_FRACTION = 0.8
BOILER_REPEATS = 1
ZIPF_S = 1.2

os.makedirs(DST, exist_ok=True)
con = duckdb.connect()

for t in ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "embeddings"):
    shutil.copyfile(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")

# --- documents: replicate + inject boilerplate -------------------------
docs = con.sql(
    f"SELECT doc_id, text, lang, source FROM '{SRC}/documents.parquet'"
).fetchall()
max_doc = max(d[0] for d in docs) + 1
rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
rng = random.Random(20260814)
for r in range(DOC_REPLICAS):
    shuf = random.Random(4321 + r)
    for doc_id, text, lang, source in docs:
        words = text.split(" ")
        if r > 0:
            shuf.shuffle(words)
        if rng.random() < BOILER_FRACTION:
            words = words + BOILERPLATE.split(" ") * BOILER_REPEATS
        t2 = " ".join(words)
        rows["doc_id"].append(doc_id + r * max_doc)
        rows["text"].append(t2)
        rows["lang"].append(lang)
        rows["source"].append(source)
        rows["n_chars"].append(len(t2))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

pq.write_table(pa.table(rows), f"{DST}/documents.parquet")

# --- short-doc variant (/tmp/sfskew_short) ---------------------------
# Same corpus with base text truncated to 12 tokens (boilerplate
# suffix kept): per-doc gram counts shrink ~5x, so the ONE hot gram's
# rows now dominate a fine-grained task budget even for ops that
# array_distinct per doc (coverage's hot-key cap is n_docs; with a
# small tail, n_docs >> rows-per-task). This is the corpus where the
# coverage op's window-vs-join trade can be measured locally instead
# of extrapolated to cluster task counts.
SHORT_DST = DST + "_short"
os.makedirs(SHORT_DST, exist_ok=True)
for t in ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "embeddings"):
    shutil.copyfile(f"{SRC}/{t}.parquet", f"{SHORT_DST}/{t}.parquet")
short = dict(rows)
short["text"] = []
short["n_chars"] = []
boiler_tokens = BOILERPLATE.split(" ") * BOILER_REPEATS
for t in rows["text"]:
    words = t.split(" ")
    # strip the boilerplate suffix if present, truncate, re-append
    has_boiler = words[-len(boiler_tokens):] == boiler_tokens
    base = words[: -len(boiler_tokens)] if has_boiler else words
    words2 = base[:12] + (boiler_tokens if has_boiler else [])
    t2 = " ".join(words2)
    short["text"].append(t2)
    short["n_chars"].append(len(t2))
pq.write_table(pa.table(short), f"{SHORT_DST}/documents.parquet")
print("documents",
      con.sql(f"SELECT COUNT(*) FROM '{DST}/documents.parquet'").fetchone()[0])

# --- events: replicate + Zipf user_id ---------------------------------
users = [
    u for (u,) in con.sql(
        f"SELECT DISTINCT user_id FROM '{SRC}/events.parquet' ORDER BY user_id"
    ).fetchall()
]
# Zipf pmf over the ranked user list (rank 1 hottest)
weights = [1.0 / (k + 1) ** ZIPF_S for k in range(len(users))]
zrng = random.Random(99)
base = con.sql(
    f"SELECT MAX(event_id) FROM '{SRC}/events.parquet'"
).fetchone()[0] + 1
src_tbl = pq.read_table(f"{SRC}/events.parquet")
n_src = src_tbl.num_rows
pieces = []
for r in range(EVT_REPLICAS):
    assigned = zrng.choices(users, weights=weights, k=n_src)
    cols = {}
    for name in src_tbl.column_names:
        col = src_tbl.column(name)
        if name == "event_id":
            cols[name] = pa.compute.add(col, r * base)
        elif name == "user_id":
            cols[name] = pa.array(assigned, type=col.type)
        else:
            cols[name] = col
    pieces.append(pa.table(cols))
pq.write_table(pa.concat_tables(pieces), f"{DST}/events.parquet")
top = con.sql(
    f"SELECT user_id, COUNT(*) AS n FROM '{DST}/events.parquet' "
    f"GROUP BY user_id ORDER BY n DESC LIMIT 3"
).fetchall()
print("events",
      con.sql(f"SELECT COUNT(*) FROM '{DST}/events.parquet'").fetchone()[0],
      "hottest users:", top)

shutil.copyfile(f"{DST}/events.parquet", f"{SHORT_DST}/events.parquet")
print("short-doc variant:", SHORT_DST)
