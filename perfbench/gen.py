"""Seeded input generators for the three benchmark workloads.

Every generator takes the run seed and a recorded parameter set, and hands
the program only files or plain rows; the matching model (what a correct
program must output) stays on the benchmark side. The same seed gives the
same bytes and the same model, so a run can be repeated exactly.

* ``CdcHours``   — DynamoDB-Streams envelopes, one hour at a time, as NDJSON
  files, with at-least-once duplicates, non-INSERT and missing-image events,
  late events for the previous hour, out-of-range values and Zipf-skewed
  cities.
* ``GoldTraffic`` — a gold seed table (many hour partitions) and a stream of
  MERGE update batches skewed towards the newest hours.
* ``write_star`` — a TPC-H-shaped star schema plus the events, documents and
  embeddings tables the analytics mix reads.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np

BASE_TIME = _dt.datetime(2024, 3, 1)
TS_FMT = "%Y-%m-%dT%H:%M:%SZ"
HOUR_SECONDS = 3600

# The traffic is derived from what the repository records of the reference
# system's ingest path, scaled up by a stated factor; every figure it does
# not record is an assumption, marked as one (see README.md, "Traffic").
# The ingest job fetches CITY_LIST, 8 cities by default, per run
# (BASELINE.md:12); Firehose flushes its buffer to storage after 60 s or
# 1-5 MB (BASELINE.md:15); the batch job reloads one hour at a time
# (BASELINE.md:23). No ingest cadence and no event mix are recorded.
REFERENCE_CITIES = 8
FIREHOSE_BUFFER_S = 60
CITY_FANOUT = 25  # assumption: a city list 25 times the default one
FETCH_ROUNDS_PER_HOUR = 15  # assumption: one ingest run every 4 minutes

# Events fetched in the last buffer interval of an hour are flushed after
# the hour has ended and land with the next hour: on-time events use the
# first 59 minutes of their hour, late ones the last minute. Late keys so
# never collide with on-time keys, and they stay newer than the stream's
# 10-minute watermark left by the previous hour's drain.
ON_TIME_SECONDS = HOUR_SECONDS - FIREHOSE_BUFFER_S

GOLD_COLUMNS = (
    ("app", "string"),
    ("stage", "string"),
    ("source", "string"),
    ("fetched_at_utc", "string"),
    ("city", "string"),
    ("country", "string"),
    ("lat", "double"),
    ("lon", "double"),
    ("temp_c", "double"),
    ("feels_like_c", "double"),
    ("humidity", "int"),
    ("pressure", "int"),
    ("wind_speed", "double"),
    ("ts", "timestamp"),
    ("dt", "string"),
    ("hour", "string"),
    ("loaded_at", "timestamp"),
)
GOLD_DDL = ", ".join(f"{n} {t}" for n, t in GOLD_COLUMNS)
# the columns a model row carries, in order (the rest are derived or fixed)
MODEL_COLUMNS = (
    "city",
    "fetched_at_utc",
    "temp_c",
    "feels_like_c",
    "humidity",
    "pressure",
    "wind_speed",
)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def city_name(i: int) -> str:
    return f"City{i:03d}"


def city_weights(n_cities: int, skew: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n_cities + 1, dtype=np.float64) ** skew
    return w / w.sum()


def hour_start(h: int) -> _dt.datetime:
    return BASE_TIME + _dt.timedelta(hours=h)


def dt_hour(h: int) -> tuple[str, str]:
    t = hour_start(h)
    return t.strftime("%Y-%m-%d"), t.strftime("%H")


def rows_hash(rows) -> str:
    """Order-insensitive hash of model-shaped rows (see MODEL_COLUMNS).
    Floats are rounded to 6 places so the JSON/parquet round trip of the
    program and the generator's Python floats hash alike."""
    acc = 0
    for r in rows:
        canon = "|".join(
            f"{v:.6f}" if isinstance(v, float) else str(v) for v in r
        )
        acc = (acc + int.from_bytes(hashlib.sha256(canon.encode()).digest()[:8], "little")) % (1 << 64)
    return f"{acc:016x}"


def _values(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    temp = np.round(rng.uniform(-10.0, 35.0, n), 2)
    return {
        "temp_c": temp,
        "feels_like_c": np.round(temp - rng.uniform(0.0, 3.0, n), 2),
        "humidity": rng.integers(10, 101, n),
        "pressure": rng.integers(980, 1041, n),
        "wind_speed": np.round(rng.uniform(0.0, 15.0, n), 2),
    }


def _pick_keys(
    rng: np.random.Generator,
    weights: np.ndarray,
    n: int,
    lo: int,
    hi: int,
) -> list[tuple[int, int]]:
    """``n`` distinct (city index, second-of-hour in [lo, hi)) keys, cities
    drawn with ``weights``."""
    per_city = rng.multinomial(n, weights)
    keys = []
    for c in np.nonzero(per_city)[0]:
        k = min(int(per_city[c]), hi - lo)
        for s in rng.choice(hi - lo, k, replace=False):
            keys.append((int(c), lo + int(s)))
    order = rng.permutation(len(keys))
    return [keys[i] for i in order]


# ---------------------------------------------------------------------------
# cdc_hourly
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CdcParams:
    # 200 cities; one event per city and ingest run: 3000 events an hour
    n_cities: int = REFERENCE_CITIES * CITY_FANOUT
    events_per_hour: int = REFERENCE_CITIES * CITY_FANOUT * FETCH_ROUNDS_PER_HOUR
    # one run's events (~100 KB) are far below the 1 MB buffer size, so the
    # 60 s timer flushes each run as its own file
    files_per_hour: int = FETCH_ROUNDS_PER_HOUR
    # the share of an hour's events fetched in its last buffer interval
    late_share: float = FIREHOSE_BUFFER_S / HOUR_SECONDS
    # assumption: at-least-once redelivery of 1 event in 20, so that every
    # hour carries duplicates for the dedup to remove
    dup_share: float = 0.05
    # assumption: MODIFY/REMOVE events (re-puts, expiry) on 4% of events
    non_insert_share: float = 0.04
    # assumption: 2% of INSERT events without a NewImage
    missing_image_share: float = 0.02
    # assumption: 4% of new rows carry an out-of-range reading
    invalid_share: float = 0.04
    # assumption: the reference polls every city once per run (skew 0);
    # a Zipf skew of 1.1 stands for a fleet in which busy cities report
    # more often, so that keys, duplicates and late events crowd on a few
    city_skew: float = 1.1


@dataclass
class CdcHour:
    """One hour of landed input and what a correct program makes of it."""

    index: int
    files: list[tuple[str, bytes]]  # (file name, NDJSON bytes)
    events: int
    # (dt, hour) -> {key: model row} of valid INSERT rows, this hour's
    # on-time events plus late events for the previous hour
    valid: dict[tuple[str, str], dict[tuple[str, str], tuple]]
    # (dt, hour) -> count of distinct out-of-range INSERT keys
    invalid: dict[tuple[str, str], int]
    useful_rows: int  # distinct INSERT-with-image keys (valid + invalid)

    def partitions(self) -> list[tuple[str, str]]:
        return sorted(set(self.valid) | set(self.invalid))


def _envelope(event_id: str, name: str, row: dict | None) -> dict:
    ddb: dict = {"ApproximateCreationDateTime": 1709251200.0}
    if row is not None:
        img = {}
        for k, v in row.items():
            img[k] = {"S": v} if isinstance(v, str) else {"N": repr(v)}
        ddb["NewImage"] = img
    return {"eventID": event_id, "eventName": name, "dynamodb": ddb}


def _image(city: int, ts: _dt.datetime, vals: dict, i: int) -> dict:
    return {
        "app": "rxlan",
        "stage": "bench",
        "source": "openweather",
        "fetched_at_utc": ts.strftime(TS_FMT),
        "city": city_name(city),
        "country": "US",
        "lat": round(25.0 + (city * 0.173) % 20, 4),
        "lon": round(-120.0 + (city * 0.311) % 45, 4),
        "temp_c": float(vals["temp_c"][i]),
        "feels_like_c": float(vals["feels_like_c"][i]),
        "humidity": int(vals["humidity"][i]),
        "pressure": int(vals["pressure"][i]),
        "wind_speed": float(vals["wind_speed"][i]),
    }


def _model_row(img: dict) -> tuple:
    return tuple(img[c] for c in MODEL_COLUMNS)


class CdcHours:
    """Hour ``i`` of the CDC feed, generated on demand and deterministic in
    ``(seed, i)``: no state carries from one hour to the next, so any hour
    can be regenerated alone."""

    def __init__(self, seed: int, params: CdcParams = CdcParams()):
        self.seed = seed
        self.p = params
        self.weights = city_weights(params.n_cities, params.city_skew)

    def hour(self, i: int) -> CdcHour:
        p = self.p
        rng = _rng(self.seed, 1, i)
        n_late = int(round(p.events_per_hour * p.late_share)) if i > 0 else 0
        n_dup = int(round(p.events_per_hour * p.dup_share))
        n_other = int(round(p.events_per_hour * p.non_insert_share))
        n_noimg = int(round(p.events_per_hour * p.missing_image_share))
        n_new = p.events_per_hour - n_late - n_dup - n_other - n_noimg
        n_invalid = int(round(n_new * p.invalid_share))

        envelopes: list[dict] = []
        valid: dict = {}
        invalid: dict = {}
        inserts: list[dict] = []

        def add_inserts(keys, h, tag):
            vals = _values(rng, len(keys))
            for j, (c, s) in enumerate(keys):
                ts = hour_start(h) + _dt.timedelta(seconds=s)
                img = _image(c, ts, vals, j)
                inserts.append(img)
                envelopes.append(_envelope(f"{tag}-{i}-{j}", "INSERT", img))

        add_inserts(_pick_keys(rng, self.weights, n_new, 0, ON_TIME_SECONDS), i, "n")
        # out-of-range values on a seeded subset of this hour's new rows
        bad = rng.choice(n_new, n_invalid, replace=False)
        for b, which in zip(bad, rng.integers(0, 3, n_invalid)):
            img = envelopes[b]["dynamodb"]["NewImage"]
            if which == 0:
                img["temp_c"] = {"N": "75.5"}
            elif which == 1:
                img["humidity"] = {"N": "130"}
            else:
                img["pressure"] = {"N": "-3"}
            inserts[b] = None  # excluded from the valid model below
        if n_late:
            add_inserts(
                _pick_keys(rng, self.weights, n_late, ON_TIME_SECONDS, HOUR_SECONDS),
                i - 1,
                "l",
            )
        for k, img in enumerate(inserts):
            h = i if k < n_new else i - 1
            part = dt_hour(h)
            if img is None:
                invalid[part] = invalid.get(part, 0) + 1
                continue
            valid.setdefault(part, {})[(img["city"], img["fetched_at_utc"])] = _model_row(img)
        useful = len(inserts)
        # at-least-once redelivery: exact copies of on-time or late inserts
        for j, src in enumerate(rng.integers(0, len(inserts), n_dup)):
            envelopes.append(dict(envelopes[int(src)], eventID=f"d-{i}-{j}"))
        # MODIFY/REMOVE events and INSERTs without a NewImage carry no row
        for j in range(n_other):
            src = envelopes[int(rng.integers(0, n_new))]
            name = "MODIFY" if j % 2 == 0 else "REMOVE"
            envelopes.append(dict(src, eventID=f"o-{i}-{j}", eventName=name))
        for j in range(n_noimg):
            envelopes.append(_envelope(f"x-{i}-{j}", "INSERT", None))

        order = rng.permutation(len(envelopes))
        chunks = np.array_split(order, p.files_per_hour)
        files = []
        for f, idx in enumerate(chunks):
            body = "".join(json.dumps(envelopes[k]) + "\n" for k in idx)
            files.append((f"events-h{i:05d}-f{f:02d}.json", body.encode()))
        return CdcHour(
            index=i,
            files=files,
            events=len(envelopes),
            valid=valid,
            invalid=invalid,
            useful_rows=useful,
        )


# ---------------------------------------------------------------------------
# gold_upsert_read
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class GoldParams:
    # assumption: half a day of history
    hours: int = 12
    # assumption: fewer rows per hour than the CDC feed's ~2600, because one
    # MERGE already takes 6-8 s on this table with 4 cores
    rows_per_hour: int = 1000
    n_cities: int = CdcParams.n_cities
    city_skew: float = CdcParams.city_skew
    # one MERGE carries one hour of the CDC feed's late events
    update_batch: int = round(CdcParams.events_per_hour * CdcParams.late_share)
    # assumption: of the existing keys a batch updates, this share is in the
    # two newest hours (corrections follow recent data), the rest anywhere
    recent_share: float = 0.9
    # assumption: 1 key in 20 of a batch is new
    new_key_share: float = 0.05
    # assumption: OPTIMIZE after every this many merges
    optimize_period: int = 2


class GoldTraffic:
    """The gold seed rows and the MERGE batches, with a last-writer-wins
    model of the table. ``model`` maps (city, fetched_at_utc) to a model row
    (MODEL_COLUMNS order); ``apply`` folds a batch into it."""

    def __init__(self, seed: int, params: GoldParams = GoldParams()):
        self.seed = seed
        self.p = params
        self.weights = city_weights(params.n_cities, params.city_skew)
        self.model: dict[tuple[str, str], tuple] = {}
        self.hour_keys: list[list[tuple[str, str]]] = []
        rng = _rng(seed, 2, 0)
        for h in range(params.hours):
            keys = _pick_keys(rng, self.weights, params.rows_per_hour, 0, ON_TIME_SECONDS)
            vals = _values(rng, len(keys))
            hk = []
            for j, (c, s) in enumerate(keys):
                ts = hour_start(h) + _dt.timedelta(seconds=s)
                img = _image(c, ts, vals, j)
                row = _model_row(img)
                self.model[row[:2]] = row
                hk.append(row[:2])
            self.hour_keys.append(hk)
        self.seed_rows = [full_row(r) for r in self.model.values()]

    def batch(self, k: int) -> list[tuple]:
        """Update batch ``k`` as full gold rows (GOLD_COLUMNS order)."""
        p = self.p
        rng = _rng(self.seed, 3, k)
        n_old = p.update_batch - int(round(p.update_batch * p.new_key_share))
        n_recent = int(round(n_old * p.recent_share))
        recent = self.hour_keys[-1] + self.hour_keys[-2]
        history = [key for hk in self.hour_keys[:-2] for key in hk]
        keys = [recent[i] for i in rng.choice(len(recent), n_recent, replace=False)]
        keys += [history[i] for i in rng.choice(len(history), n_old - n_recent, replace=False)]
        newest = self.p.hours - 1
        while len(keys) < p.update_batch:
            # new keys land in the newest hour, in the seconds no seed row uses
            c = int(rng.choice(p.n_cities, p=self.weights))
            s = int(rng.integers(ON_TIME_SECONDS, HOUR_SECONDS))
            ts = hour_start(newest) + _dt.timedelta(seconds=s)
            key = (city_name(c), ts.strftime(TS_FMT))
            if key in self.model or key in keys:
                continue
            keys.append(key)
            self.hour_keys[-1].append(key)
        vals = _values(rng, len(keys))
        rows = []
        for j, (city, fat) in enumerate(keys):
            rows.append(
                (
                    city,
                    fat,
                    float(vals["temp_c"][j]),
                    float(vals["feels_like_c"][j]),
                    int(vals["humidity"][j]),
                    int(vals["pressure"][j]),
                    float(vals["wind_speed"][j]),
                )
            )
        return [full_row(r) for r in rows]

    def apply(self, batch: list[tuple]) -> None:
        for r in batch:
            m = model_of_full(r)
            self.model[m[:2]] = m


_LOADED_AT = _dt.datetime(2024, 4, 1)


def full_row(m: tuple) -> tuple:
    """Model row -> full gold row in GOLD_COLUMNS order."""
    city, fat, temp, feels, hum, pres, wind = m
    ts = _dt.datetime.strptime(fat, TS_FMT)
    c = int(city[4:])
    return (
        "rxlan",
        "bench",
        "openweather",
        fat,
        city,
        "US",
        round(25.0 + (c * 0.173) % 20, 4),
        round(-120.0 + (c * 0.311) % 45, 4),
        temp,
        feels,
        hum,
        pres,
        wind,
        ts,
        ts.strftime("%Y-%m-%d"),
        ts.strftime("%H"),
        _LOADED_AT,
    )


def model_of_full(r: tuple) -> tuple:
    return (r[4], r[3], r[8], r[9], r[10], r[11], r[12])


# ---------------------------------------------------------------------------
# star_analytics
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class StarParams:
    # 1.0 ~ TPC-H SF1 row counts for the fact tables. The repository's
    # bench scale is 0.1; 0.03 keeps a pass over the mix near 7 s on 4
    # cores, so that one run holds several passes (see README.md)
    scale: float = 0.03


_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = (
    "a batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join index file"
).split()
_LANGS = ["en", "en", "en", "en", "de", "fr", "es", ""]


def _ts_days(start: _dt.datetime, days: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + days.astype("timedelta64[D]").astype("timedelta64[us]")


def write_star(out_dir: str, seed: int, params: StarParams = StarParams()) -> dict[str, int]:
    """Write the star schema as one parquet file per table; returns row
    counts per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, 4, 0)
    s = params.scale
    n_cust = max(100, int(150_000 * s))
    n_supp = max(20, int(10_000 * s))
    n_part = max(100, int(200_000 * s))
    n_ord = max(1000, int(1_500_000 * s))
    n_ev = max(1000, int(1_000_000 * s))
    n_doc = max(200, int(50_000 * s))
    n_emb = max(200, int(20_000 * s))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    colors = np.array(["large", "hot", "blue", "green", "pale", "dark"])
    nouns = np.array(["ring", "bolt", "gear", "pipe", "nut"])
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(colors[rng.integers(0, 6, n_part)], " "),
                nouns[rng.integers(0, 5, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "PROMO", "STANDARD"])[
                rng.integers(0, 5, n_part)
            ],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_ord)
    l_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n_li)
    totals = np.bincount(l_ord, weights=price, minlength=n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(totals, 2),
            "o_orderdate": _ts_days(_dt.datetime(1995, 1, 1), odays),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_ord,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": l_num,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_days(_dt.datetime(1995, 1, 1), ship),
        }
    )
    ev_us = rng.integers(0, 30 * 86400 * 10**6, n_ev)
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64(_dt.datetime(2024, 1, 1), "us") + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": money(0.0, 500.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    vocab = np.array(_VOCAB)
    for d in range(n_doc):
        if d >= 10 and rng.random() < 0.1:
            # near duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, d))].split()
            for pos in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[pos] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 80)))])
        texts.append(" ".join(words))
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_doc)],
            "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def params_record(*params) -> dict:
    out = {}
    for p in params:
        out.update(asdict(p))
    return out
