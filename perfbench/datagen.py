"""Seeded input generators for the benchmark.

Everything the package reads during a run is made here from the run's seed:
the star-schema and corpus parquet tables the registry queries scan, and the
orders CSV batches the ingest and stream workloads commit. The same seed and
scale always give byte-identical inputs.

The tables follow the shapes of the package's fixture catalog
(``sources/catalog.py``): independent uniform columns over the same value
domains, one parquet file per table. Sizes scale linearly with ``scale``
(1.0 = 1.5M orders, 6M line items); the corpus tables hold 50k documents
and 20k embeddings per unit of scale.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

__all__ = ["write_tables", "OrdersFeed", "ORDERS_CSV_HEADER"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _rows(scale: float, per_unit: int, minimum: int) -> int:
    return max(minimum, int(round(per_unit * scale)))


def _days(rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    """Midnight timestamps uniformly over ``span_days`` from 1995-01-01."""
    return _EPOCH_1995 + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, columns: dict[str, pa.Array]) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(columns), path)
    return path


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten catalog tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = _rows(scale, 150_000, 150)
    n_supp = _rows(scale, 10_000, 10)
    n_part = _rows(scale, 200_000, 200)
    n_orders = _rows(scale, 1_500_000, 1_500)
    n_lines = 4 * n_orders
    n_docs = _rows(scale, 50_000, 500)
    n_vecs = _rows(scale, 20_000, 500)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(_REGIONS, s),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), s),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    names = np.char.add(
        np.char.add(rng.choice(_ADJECTIVES, n_part), " "), rng.choice(_NOUNS, n_part)
    )
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(names, s),
        "p_brand": pa.array(
            np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)), s
        ),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1), f64),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders), s),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_orders), f64),
        "o_orderdate": pa.array(_days(rng, n_orders, 2404), ts),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_orders), s),
    })
    quantity = rng.integers(1, 51, n_lines).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_orders, n_lines)), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), i32),
        "l_quantity": pa.array(quantity, f64),
        "l_extendedprice": pa.array(
            np.round(quantity * rng.uniform(900, 2100, n_lines), 2), f64
        ),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lines), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_lines), s),
        "l_shipdate": pa.array(_days(rng, n_lines, 2499) + np.timedelta64(1, "D"), ts),
    })
    texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(_LANGS, n_docs), s),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_orders, "lineitem": n_lines,
        "documents": n_docs, "embeddings": n_vecs,
    }


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Word-soup documents; about 8% are near copies of an earlier document
    (a few words replaced) and 3% exact copies, so the dedup kernels find
    real clusters."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.03:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and roll < 0.11:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 25)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
            continue
        length = int(rng.integers(8, 90))
        texts.append(" ".join(rng.choice(_WORDS, length)))
    return texts


# ---------------------------------------------------------------------------
# Orders CSV feed (ingest and stream workloads)
# ---------------------------------------------------------------------------
#
# The feed follows the profile of the reference orders data (SURVEY.md §1.1
# and §1.4: 2,858 rows over 548 (orderId, productId) keys and 409 orders)
# and the value domains of the test fixtures (tests/fixtures.py).

ORDERS_CSV_HEADER = (
    "orderId,productId,currency,quantity,shippingCost,amount,"
    "channel,channelGroup,campaign,dateTime"
)
# 548 keys over 2,858 rows: a key is sent 5.2 times on average, and a
# re-send repeats every column but dateTime (SURVEY.md §1.4.1)
NEW_KEY_FRAC = 548 / 2858
# 409 orderIds over 548 keys: a new key opens a new order, or else adds
# one more product to the newest order
NEW_ORDER_FRAC = 409 / 548
# 35 of 2,858 timestamps have no seconds (SURVEY.md §1.4.2)
MINUTE_FRAC = 35 / 2858
# 1,873 of 2,858 campaigns are empty, written as a quoted "" (§1.1, §1.4.5)
EMPTY_CAMPAIGN_FRAC = 1873 / 2858
# 2023-02-01 to 2023-05-18 over 2,858 rows: one row per 53 minutes
MEAN_STEP_S = 106 * 86_400 / 2858
# product ids in the reference inventory (SURVEY.md §1.1)
PRODUCTS = 1_135
# the reference export re-sends only its own 548 keys: most re-sends pick
# among the newest 548 keys
RECENT_KEYS = 548
# Not in the profile, chosen: the other 20% of re-sends pick among all keys,
# and 0.5% of the lines carry an unparseable quantity.
RECENT_FRAC = 0.8
MALFORMED_FRAC = 0.005

_CHANNELS = np.array(["direct", "google", "others", "facebook", "bing", "newsletter", "instagram"])
_GROUPS = np.array(
    ["sem", "direct", "referral", "organic", "email", "social_ppc", "social_organic", "affiliate"]
)
_CAMPAIGNS = np.array(["kr_pmax", "se_branded_search", "dk_shopping", "fi_display"])
_START = np.datetime64("2023-02-01T00:00:00", "s")
_MALFORMED = (
    '00000000-0000-0000-0000-000000000000,prod1000#prod100000000000,SEK,not-a-number,'
    '0.0,179.0,direct,direct,"",2023-02-01T00:00:00Z'
)


class OrdersFeed:
    """Seeded generator of orders CSV batches in the reference CSV schema:
    camelCase headers, ISO-8601 ``Z`` timestamps (a few at minute
    precision), composite ``prodNNNN#prodNNNNNNNNNNNN`` product ids and
    quoted ``""`` for empty campaigns. The shares are the module constants.

    A row opens a new key, with ascending order ids, or re-sends an existing
    key: the same values with a newer ``dateTime``. A re-send of a key of
    the same batch is a duplicate the merge's dedupe removes; one of an
    earlier batch is an update. Timestamps grow by at least a minute per
    row, so a later row of a key is its newest at either precision.
    ``malformed_frac`` of the lines must be dropped by the reader.

    ``clean`` keeps every well-formed row, one arrow table per batch with
    ``date_time`` in epoch microseconds: the input of the last-wins replay
    that checks the committed table.
    """

    def __init__(self, seed: int, malformed_frac: float = MALFORMED_FRAC) -> None:
        rng = self.rng = np.random.default_rng([seed, 2])
        self.malformed_frac = malformed_frac
        self.product_ids = np.char.add(
            np.char.add("prod", rng.integers(1000, 10_000, PRODUCTS).astype(str)),
            np.char.add("#prod", rng.integers(10**11, 10**12, PRODUCTS).astype(str)),
        )
        self.keys: dict[str, np.ndarray] = {}  # column values of key i at row i
        self.n_keys = 0
        self.n_orders = 0
        self.last_product = 0  # product of the newest key
        self.clean: list[pa.Table] = []
        self.clock = 0.0

    def _new_keys(self, n: int) -> None:
        """Append ``n`` keys; a key added to an open order takes the product
        after the order's previous one, so products within an order differ."""
        if n == 0:
            return
        rng = self.rng
        opens = rng.random(n) < NEW_ORDER_FRAC
        if self.n_orders == 0:
            opens[0] = True
        idx = np.arange(n)
        opener = np.maximum.accumulate(np.where(opens, idx, -1))
        first = rng.integers(0, PRODUCTS, n)[np.maximum(opener, 0)]
        product = np.where(
            opener >= 0, first + idx - opener, self.last_product + 1 + idx
        ) % PRODUCTS
        cols = {
            "order": self.n_orders - 1 + np.cumsum(opens),
            "product": product,
            "quantity": rng.integers(1, 4, n),
            # half the fixture orders ship free (tests/fixtures.py)
            "shipping_cost": np.where(
                rng.random(n) < 0.5, 0.0, np.round(rng.uniform(0, 2200, n), 2)
            ),
            "amount": np.round(rng.uniform(179, 25252, n), 3),
            "channel": rng.integers(0, len(_CHANNELS), n),
            "channel_group": rng.integers(0, len(_GROUPS), n),
            "campaign": np.where(
                rng.random(n) < EMPTY_CAMPAIGN_FRAC, -1, rng.integers(0, len(_CAMPAIGNS), n)
            ),
        }
        for c, v in cols.items():
            self.keys[c] = np.concatenate([self.keys[c], v]) if c in self.keys else v
        self.n_keys += n
        self.n_orders = int(cols["order"][-1]) + 1
        self.last_product = int(product[-1])

    def write_batch(self, path: str, rows: int) -> int:
        """Write one CSV batch of ``rows`` lines; returns the number of lines."""
        rng = self.rng
        good = rng.random(rows) >= self.malformed_frac
        n = int(good.sum())

        new = rng.random(n) < NEW_KEY_FRAC
        if self.n_keys == 0:
            new[0] = True
        known = self.n_keys + np.cumsum(new) - new  # keys that exist before each row
        key = np.empty(n, np.int64)
        key[new] = np.arange(self.n_keys, self.n_keys + int(new.sum()))
        self._new_keys(int(new.sum()))
        avail = known[~new]
        lo = np.where(
            rng.random(len(avail)) < RECENT_FRAC, np.maximum(0, avail - RECENT_KEYS), 0
        )
        key[~new] = rng.integers(lo, avail)
        v = {c: a[key] for c, a in self.keys.items()}

        clock = self.clock + np.cumsum(rng.uniform(60, 2 * MEAN_STEP_S - 60, n))
        self.clock = float(clock[-1]) if n else self.clock
        secs = np.floor(clock).astype(np.int64)
        minute = rng.random(n) < MINUTE_FRAC
        secs -= np.where(minute, secs % 60, 0)
        when = _START + secs.astype("timedelta64[s]")
        stamps = np.where(
            minute,
            np.char.add(np.datetime_as_string(when, unit="m"), "Z"),
            np.char.add(np.datetime_as_string(when, unit="s"), "Z"),
        )
        campaign = np.where(v["campaign"] < 0, "", _CAMPAIGNS[np.maximum(v["campaign"], 0)])
        cols = {
            "order_id": np.char.add(
                "00000000-0000-0000-0000-", np.char.zfill(v["order"].astype(str), 12)
            ),
            "product_id": self.product_ids[v["product"]],
            "currency": np.full(n, "SEK"),
            "quantity": v["quantity"],
            "shipping_cost": v["shipping_cost"],
            "amount": v["amount"],
            "channel": _CHANNELS[v["channel"]],
            "channel_group": _GROUPS[v["channel_group"]],
        }
        text_cols = [[repr(x) for x in a.tolist()] if a.dtype.kind == "f"
                     else a.astype(str).tolist() for a in cols.values()]
        quoted = [f'"{c}"' for c in campaign.tolist()]
        good_lines = [",".join(parts) for parts in zip(*text_cols, quoted, stamps.tolist())]
        lines = np.full(rows, _MALFORMED, dtype=object)
        lines[good] = good_lines
        with open(path, "w") as f:
            f.write(ORDERS_CSV_HEADER + "\n" + "\n".join(lines) + "\n")

        table = {c: pa.array(a.tolist()) for c, a in cols.items()}
        table["campaign"] = pa.array(
            [None if c == "" else c for c in campaign.tolist()], pa.string()
        )
        table["date_time"] = pa.array(when.astype("datetime64[us]").astype(np.int64))
        table["batch"] = pa.array(np.full(n, len(self.clean), np.int64))
        table["seq"] = pa.array(np.arange(n, dtype=np.int64))
        self.clean.append(pa.table(table))
        return rows
