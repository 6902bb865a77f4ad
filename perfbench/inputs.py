"""Seeded inputs for the benchmark workloads.

Bronze tables come from the program's own fixture generator
(``furchild_spark.sources.fixtures.bronze_fixtures``), run once per copy
with a seed derived from the benchmark seed. Copy 0 supplies every table;
each further copy adds its orders, order lines and addresses under
shifted keys, so the order-side tables grow ``copies``-fold while the
customer, invoice and product dimensions keep the fixture's size.

The documents corpus is sized to the catalog's ``documents`` table at
sf0.1, as measured there: 5000 rows in 20 sources of 250, assigned
round-robin by ``doc_id``; 10-100 tokens (uniform, quartiles 32/54/76)
from a 31-word vocabulary; 8 rows (0.16%) exact copies of an earlier
document and about 240 (4.8%) an earlier document with the token
``dup`` appended (3-shingle Jaccard >= 0.5), both almost always in another
source; language en for about 41% of rows, zh/es/fr/de for the rest.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pandas as pd

from furchild_spark.sources import fixtures

# order-side tables that scale with ``copies``; key offsets per copy stay
# clear of each other (the fixture has 220 orders and < 1100 lines)
ORDER_TABLES = ("transactions", "transaction_items", "transaction_addresses")
ORDER_STRIDE = 1000
ITEM_STRIDE = 10000

# The fixtures create orders over 80 days from EPOCH and extract them at
# INGEST. The base history is extracted BASE_AGE earlier, so an
# incremental run's 7-day lookback (marts.py ``_lookback``) skips it,
# except for one recent copy, created and extracted inside the window, on
# which late updates land. New orders are created in the last days before
# NOW and extracted at INGEST.
EPOCH = fixtures.EPOCH
INGEST = fixtures.INGEST
NOW = dt.datetime(2024, 6, 2, 0, 0, 0)
BASE_AGE = dt.timedelta(days=30)
RECENT = (dt.datetime(2024, 5, 26, 12), dt.datetime(2024, 5, 30, 12),
          dt.datetime(2024, 5, 31, 0))
NEW = (dt.datetime(2024, 5, 29, 0), dt.datetime(2024, 6, 1, 0), INGEST)
FIXTURE_SPAN = dt.timedelta(days=81)
# share of the recent copy's order headers a delta updates late
UPDATE_SHARE = 0.25


def _generate(seed: int) -> dict[str, pd.DataFrame]:
    """One run of the fixture generator under ``seed``."""
    saved = fixtures.SEED
    fixtures.SEED = seed
    try:
        return fixtures.bronze_fixtures()
    finally:
        fixtures.SEED = saved


def _shift_order_id(ids: pd.Series, offset: int) -> pd.Series:
    """'SO-7012' -> 'SO-<7012 + offset>', keeping the prefix."""
    parts = ids.str.extract(r"^(\D*)(\d+)$")
    return parts[0] + (parts[1].astype(int) + offset).astype(str)


def _order_copy(seed: int, k: int, window=None) -> dict[str, pd.DataFrame]:
    """Order-side tables of copy ``k``, keys shifted past copy ``k-1``.
    With ``window = (first, last, extracted)`` the copy's order times are
    squeezed into [first, last] and every row is extracted at
    ``extracted``."""
    t = _generate(seed)
    off = k * ORDER_STRIDE
    tx = t["transactions"].copy()
    tx["ID"] = _shift_order_id(tx["ID"], off)
    tx["ZOHO_SO_ID"] = "zso-" + _shift_order_id(
        tx["ZOHO_SO_ID"].str.slice(4), off
    )
    items = t["transaction_items"].copy()
    items["ID"] = (items["ID"].astype(int) + k * ITEM_STRIDE).astype(str)
    items["TRANSACTION_ID"] = _shift_order_id(items["TRANSACTION_ID"], off)
    addr = t["transaction_addresses"].copy()
    num = addr["ID"].str.extract(r"^(\d+)-(\d+)$")
    addr["ID"] = (num[0].astype(int) + off).astype(str) + "-" + num[1]
    addr["TRANSACTION_ID"] = _shift_order_id(addr["TRANSACTION_ID"], off)
    out = {"transactions": tx, "transaction_items": items,
           "transaction_addresses": addr}
    if window is not None:
        # recent lines reference their order by its bare number: in the
        # fixture only unprefixed ids join their header, and a line whose
        # order time stays NULL never re-enters an incremental window
        items["TRANSACTION_ID"] = items["TRANSACTION_ID"].str.extract(r"(\d+)$")[0]
        first, last, extracted = window
        scale = (last - first) / FIXTURE_SPAN
        created = first + (tx["TRANSACTION_DATE"] - EPOCH) * scale
        lag = tx["DATE_UPDATED"] - tx["TRANSACTION_DATE"]
        tx["TRANSACTION_DATE"] = created
        tx["DATE_UPDATED"] = created + lag * scale
        dated = ~tx["DELIVERY_DATE"].isin(["not-a-date"]) & tx["DELIVERY_DATE"].notna()
        tx.loc[dated, "DELIVERY_DATE"] = created[dated].dt.strftime("%Y-%m-%d")
        for df in out.values():
            df["_AIRBYTE_EXTRACTED_AT"] = extracted
    return out


def base_bronze(seed: int, copies: int) -> dict[str, pd.DataFrame]:
    """``copies``-fold order history: copy 0 plus ``copies - 2`` more
    extracted ``BASE_AGE`` before the fixtures' ingest time, and one recent
    copy inside the lookback window."""
    tables = _generate(seed * 1000)
    for df in tables.values():
        if "_AIRBYTE_EXTRACTED_AT" in df:
            df["_AIRBYTE_EXTRACTED_AT"] = df["_AIRBYTE_EXTRACTED_AT"] - BASE_AGE
    parts = {name: [tables[name]] for name in ORDER_TABLES}
    for k in range(1, copies):
        copy = _order_copy(seed * 1000 + k, k, RECENT if k == copies - 1 else None)
        for name, df in copy.items():
            if k < copies - 1:
                df["_AIRBYTE_EXTRACTED_AT"] = df["_AIRBYTE_EXTRACTED_AT"] - BASE_AGE
            parts[name].append(df)
    for name in ORDER_TABLES:
        tables[name] = pd.concat(parts[name], ignore_index=True)
    return tables


def delta_bronze(
    base: dict[str, pd.DataFrame], seed: int, copies: int,
) -> dict[str, pd.DataFrame]:
    """The bronze state after one landing: one more copy of new orders
    plus late updates (a day later, new payment and delivery status) to
    ``UPDATE_SHARE`` of the recent copy's order headers, both extracted at
    the fixtures' ingest time. Updated headers replace their base rows, as
    a deduplicating loader leaves them; order lines gain the new orders'.
    The address book does not change: fct_orders picks each order's
    shipping address as of order time, and a new address would change
    that pick for old orders only on a full rebuild."""
    rng = random.Random(seed * 7919 + 1)
    new = _order_copy(seed * 1000 + copies, copies, NEW)
    tx = base["transactions"].copy()
    recent = tx.index[tx["_AIRBYTE_EXTRACTED_AT"] == RECENT[2]].tolist()
    upd = sorted(rng.sample(recent, max(1, int(len(recent) * UPDATE_SHARE))))
    tx.loc[upd, "_AIRBYTE_EXTRACTED_AT"] = INGEST
    tx.loc[upd, "DATE_UPDATED"] = tx.loc[upd, "TRANSACTION_DATE"] + pd.Timedelta(days=1)
    tx.loc[upd, "PAYMENT_STATUS"] = [rng.choice([1, 2]) for _ in upd]
    tx.loc[upd, "DELIVERY_STATUS"] = [rng.choice([1, 3]) for _ in upd]
    out = dict(base)
    out["transactions"] = pd.concat([tx, new["transactions"]], ignore_index=True)
    out["transaction_items"] = pd.concat(
        [base["transaction_items"], new["transaction_items"]], ignore_index=True
    )
    return out


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> dict[str, str]:
    """One parquet file per table, ``<name>.parquet``; returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, pdf in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        # microsecond timestamps: Spark's parquet reader rejects NANOS
        pdf.to_parquet(path, index=False, coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        paths[name] = path
    return paths


VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en",) * 11 + ("zh", "es", "fr", "de") * 4
SOURCES = 20
EXACT_SHARE = 0.0016
NEAR_SHARE = 0.048


def documents(seed: int, per_source: int = 250) -> pd.DataFrame:
    """``SOURCES * per_source`` documents, source ``doc_id % SOURCES``;
    ``EXACT_SHARE`` are copies of an earlier document and ``NEAR_SHARE``
    an earlier document with `` dup`` appended."""
    rng = random.Random(seed * 31 + 7)
    n = per_source * SOURCES
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < EXACT_SHARE:
            text = texts[rng.randrange(i)]
        elif i > 0 and r < EXACT_SHARE + NEAR_SHARE:
            text = texts[rng.randrange(i)] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        texts.append(text)
    return pd.DataFrame({
        "doc_id": pd.Series(range(n), dtype="int64"),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % SOURCES}" for i in range(n)],
        "n_chars": pd.Series([len(t) for t in texts], dtype="int64"),
    })


def stream_batches(docs: pd.DataFrame):
    """(corpus, {kind: {"b1": ..., "b2": ...}}): the corpus and the two
    micro-batches of the catalog's streaming dedup entries. The corpus is
    src0-src4. Batch 1 is src5-src9 plus a copy of every src0 document,
    batch 2 src10-src14 plus a copy of every src5 document, the copies
    re-keyed by +100000 and +200000. ``exact`` copies are verbatim
    (``streaming_dedup_e2e``); ``near`` copies have `` zz`` appended
    (``streaming_neardup_e2e``)."""
    docs = docs[["doc_id", "text", "source"]]

    def src(*nums):
        return docs[docs["source"].isin([f"src{n}" for n in nums])]

    def copies(num, offset, suffix):
        out = src(num).copy()
        out["doc_id"] += offset
        out["text"] = out["text"] + suffix
        return out

    batches = {
        kind: {
            "b1": pd.concat([src(5, 6, 7, 8, 9), copies(0, 100000, suffix)],
                            ignore_index=True),
            "b2": pd.concat([src(10, 11, 12, 13, 14), copies(5, 200000, suffix)],
                            ignore_index=True),
        }
        for kind, suffix in (("exact", ""), ("near", " zz"))
    }
    return src(0, 1, 2, 3, 4), batches


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def file_sizes(path: str) -> dict[str, int]:
    """Relative path -> size of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out
