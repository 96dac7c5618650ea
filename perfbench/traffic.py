"""Seeded traffic for the pipeline workloads, and the expected output.

Everything here is plain Python: the payloads, the Kinesis transport
encodings and the manifest of what the routed sink must hold.  The only
import from the package is ``kpl_aggregate_bytes``, the KPL wire-format
writer; the program under test sees only the files written here.

The manifest maps each output partition ``route/ym/dd`` to a record
count and an order-free digest (the sum of 64-bit payload hashes modulo
2**64), computed from the routing rules the reference documents:
valid records go to their ``log_type`` under their UTC event date;
invalid ones go to ``unknown`` under their event date if the time
parses, else under the pinned ``unknown_date``.
"""

from __future__ import annotations

import base64
import bisect
import datetime as dt
import gzip
import hashlib
import itertools
import json
import os
import random

from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import (
    kpl_aggregate_bytes,
)

UNKNOWN = "unknown"
UNKNOWN_DATE = "2024-06-01"
LOG_TYPES = tuple(f"svc{i}" for i in range(8))
#: Zipf(1) weights over the log types: a few hot routes, a long tail
TYPE_WEIGHTS = tuple(1.0 / (i + 1) for i in range(len(LOG_TYPES)))

#: record kinds and their shares (FIXTURES P5-P9): non-JSON, a missing
#: required field, and a non-ISO time that only dateutil parses
KINDS = ("iso", "rfc1123", "non_json", "missing")
_KIND_CUM = tuple(itertools.accumulate((0.95, 0.01, 0.02)))
_TYPE_CUM = tuple(itertools.accumulate(w / sum(TYPE_WEIGHTS) for w in TYPE_WEIGHTS[:-1]))

#: transport encodings; weights are per Kinesis record, chosen so the
#: logical-record shares are 40/20/20/20 (CloudWatch and KPL carry 10)
ENCODINGS = ("plain", "gzip", "cloudwatch", "kpl")
ENCODING_STEP_WEIGHTS = (0.4, 0.2, 0.02, 0.02)
PACK = 10
#: one CloudWatch CONTROL_MESSAGE (no records) per this many envelopes
CONTROL_EVERY = 25
#: Kinesis records per Lambda event (the reference's batch_size)
EVENT_RECORDS = 100
#: share of live-stream lines that replay an earlier record
REPLAY_SHARE = 0.03


def digest(payload: str) -> int:
    return int.from_bytes(hashlib.blake2b(payload.encode(), digest_size=8).digest(), "big")


class Manifest:
    """Expected sink content: per ``route/ym/dd`` a count and digest,
    plus the observe-counter totals (rows in, valid, unknown)."""

    def __init__(self) -> None:
        self.parts: dict[str, list[int]] = {}
        self.n_in = self.n_valid = self.n_unknown = 0

    def add(self, payload: str, route: str, day: str, emitted: bool = True) -> None:
        """Count one record entering the pipeline; ``emitted=False`` for
        a replay that dedup must drop (it still enters the counters)."""
        self.n_in += 1
        if route == UNKNOWN:
            self.n_unknown += 1
        else:
            self.n_valid += 1
        if emitted:
            key = f"{route}/{day[:7]}/{day[8:10]}"
            part = self.parts.setdefault(key, [0, 0])
            part[0] += 1
            part[1] = (part[1] + digest(payload)) % (1 << 64)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "parts": self.parts,
                    "n_in": self.n_in,
                    "n_valid": self.n_valid,
                    "n_unknown": self.n_unknown,
                },
                f,
            )


def partition_mismatches(expected: dict[str, list[int]], rows) -> int:
    """Records missing, duplicated or misrouted: ``rows`` is an iterable
    of ``(route, ym, dd, payload)`` read back from the sink.  Each
    partition contributes its count difference, or 1 when the counts
    agree but the digests do not (a record swapped for another)."""
    got: dict[str, list[int]] = {}
    for route, ym, dd, payload in rows:
        part = got.setdefault(f"{route}/{ym}/{dd}", [0, 0])
        part[0] += 1
        part[1] = (part[1] + digest(payload)) % (1 << 64)
    bad = 0
    for key in expected.keys() | got.keys():
        ec, ed = expected.get(key, (0, 0))
        gc, gd = got.get(key, (0, 0))
        bad += abs(ec - gc) if ec != gc else int(ed != gd)
    return bad


class RecordMaker:
    """Seeded logical records with event times in ``[start, start+span)``."""

    def __init__(self, rng: random.Random, prefix: str, start: dt.datetime, span_s: float):
        self.rng = rng
        self.prefix = prefix
        self.start = start
        self.span_s = span_s
        self.i = 0

    def make(self) -> tuple[str, str, str]:
        """One ``(payload, route, day)``."""
        rng = self.rng
        self.i += 1
        kind = KINDS[bisect.bisect(_KIND_CUM, rng.random())]
        log_id = f"{self.prefix}-{self.i:08d}"
        if kind == "non_json":
            return f"plaintext {log_id}, not json", UNKNOWN, UNKNOWN_DATE
        log_type = LOG_TYPES[bisect.bisect(_TYPE_CUM, rng.random())]
        us = int(rng.random() * self.span_s * 1e6)
        secs, us = divmod(us, 1_000_000)
        days, secs = divmod(secs, 86400)
        day = (self.start + dt.timedelta(days=days)).strftime("%Y-%m-%d")
        if kind == "rfc1123":
            ts = self.start + dt.timedelta(days=days, seconds=secs)
            time = ts.strftime("%a, %d %b %Y %H:%M:%S GMT")
        else:
            hh, rem = divmod(secs, 3600)
            time = f"{day}T{hh:02d}:{rem // 60:02d}:{rem % 60:02d}.{us:06d}+00:00"
        fields = [
            f'"log_type":"{log_type}"',
            f'"log_id":"{log_id}"',
            f'"time":"{time}"',
        ]
        route = log_type
        if kind == "missing":
            gone = int(rng.random() * 3)
            del fields[gone]
            route = UNKNOWN
            if gone == 2:
                day = UNKNOWN_DATE
        extra = f'"user_id":{int(rng.random() * 10_000)},"value":{rng.random() * 500:.2f},'
        extra += f'"props":{{"k":{int(rng.random() * 100)}}}'
        return "{" + ",".join(fields) + "," + extra + "}", route, day


def _b64(b: bytes) -> str:
    return base64.b64encode(b).decode()


def kinesis_records(maker: RecordMaker, n: int, manifest: Manifest, encodings=ENCODINGS):
    """Yield base64 Kinesis ``Data`` blobs carrying ``n`` logical records.

    ``encodings`` restricts the mix (the per-encoding decode slices)."""
    rng = maker.rng
    weights = [w for e, w in zip(ENCODINGS, ENCODING_STEP_WEIGHTS) if e in encodings]
    made = 0
    envelopes = 0
    while made < n:
        enc = rng.choices(encodings, weights)[0]
        k = min(PACK, n - made) if enc in ("cloudwatch", "kpl") else 1
        recs = [maker.make() for _ in range(k)]
        for payload, route, day in recs:
            manifest.add(payload, route, day)
        made += k
        if enc == "plain":
            yield _b64(recs[0][0].encode())
        elif enc == "gzip":
            yield _b64(gzip.compress(recs[0][0].encode(), compresslevel=1, mtime=0))
        elif enc == "kpl":
            yield _b64(kpl_aggregate_bytes([p.encode() for p, _, _ in recs], maker.prefix))
        else:
            envelopes += 1
            if envelopes % CONTROL_EVERY == 0:
                yield _b64(gzip.compress(_cloudwatch("CONTROL_MESSAGE", []), 1, mtime=0))
            yield _b64(gzip.compress(_cloudwatch("DATA_MESSAGE", recs), 1, mtime=0))


def _cloudwatch(kind: str, recs) -> bytes:
    events = [
        {"id": str(i), "timestamp": 1704067200000 + i, "message": p}
        for i, (p, _, _) in enumerate(recs)
    ]
    return json.dumps(
        {
            "messageType": kind,
            "owner": "123456789012",
            "logGroup": "/bench/app",
            "logStream": "stream-0",
            "subscriptionFilters": ["bench"],
            "logEvents": events,
        },
        separators=(",", ":"),
    ).encode()


def write_lambda_events(
    out_dir: str, seed: int, n_records: int, n_files: int, encodings=ENCODINGS
) -> Manifest:
    """Lambda-event JSON files (one ``{"Records": [...]}`` per line)
    holding ``n_records`` logical records whose event dates span 30
    days; returns the manifest."""
    rng = random.Random(f"backfill-{seed}-{','.join(encodings)}")
    maker = RecordMaker(rng, f"b{seed}", dt.datetime(2024, 1, 1), 30 * 86400)
    manifest = Manifest()
    events: list[str] = []
    batch: list[dict] = []
    for seq, blob in enumerate(kinesis_records(maker, n_records, manifest, encodings)):
        batch.append(
            {
                "kinesis": {
                    "data": blob,
                    "partitionKey": f"pk{seq % 64}",
                    "sequenceNumber": str(seq),
                    "approximateArrivalTimestamp": 1704067200.0 + seq,
                }
            }
        )
        if len(batch) == EVENT_RECORDS:
            events.append(json.dumps({"Records": batch}, separators=(",", ":")))
            batch = []
    if batch:
        events.append(json.dumps({"Records": batch}, separators=(",", ":")))
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        # events go round-robin over the files, so every file (one scan
        # task) holds the same encoding mix
        with open(os.path.join(out_dir, f"events-{i:03d}.json"), "w") as f:
            f.write("\n".join(events[i::n_files]) + "\n")
    return manifest


def stream_files(seed: int, n_files: int, per_file: int) -> tuple[list[str], Manifest]:
    """Newline-delimited payload files for the live stream, in the order
    they are due.  Event times fall in the two days before a fixed
    anchor, so each batch touches few partitions.  About
    ``REPLAY_SHARE`` of the lines repeat a valid record of one of the two
    files before (an at-least-once retry) that dedup must drop.
    Returns the file bodies and the manifest."""
    rng = random.Random(f"stream-{seed}")
    maker = RecordMaker(rng, f"s{seed}", dt.datetime(2024, 3, 1), 2 * 86400)
    manifest = Manifest()
    sent: list[list[str]] = []
    files = []
    for i in range(n_files):
        valid: list[str] = []
        lines = []
        for _ in range(per_file):
            earlier = i - rng.randint(1, 2)
            if earlier >= 0 and sent[earlier] and rng.random() < REPLAY_SHARE:
                payload = rng.choice(sent[earlier])
                rec = json.loads(payload)
                manifest.add(payload, rec["log_type"], rec["time"][:10], emitted=False)
            else:
                payload, route, day = maker.make()
                manifest.add(payload, route, day)
                if route != UNKNOWN and '"time":"2' in payload:  # ISO time
                    valid.append(payload)
            lines.append(payload)
        sent.append(valid)
        files.append("\n".join(lines) + "\n")
    return files, manifest


#: words of the generated documents; the first six are the stopwords
#: ``operators.textops`` counts
WORDS = (
    "the a of and to in key agg row scan slow fast table value part hash "
    "merge batch spark line sort window data column join small customer "
    "query order stream group filter big"
).split()
#: documents of the registry tables; one in REPEAT_EVERY is a lightly
#: edited copy of an earlier one, so near-duplicate search finds pairs
DOCS = 500
REPEAT_EVERY = 10


def write_tables(out_dir: str, seed: int) -> None:
    """Seeded registry tables, one parquet file each, with the schemas
    FIXTURES.md documents for the test tables: ``lineitem`` (about 21k
    rows), ``orders`` and ``events`` (5k), ``customer``, ``documents``
    and ``embeddings`` (500)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"tables-{seed}")
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, columns: dict, types: dict | None = None) -> None:
        types = types or {}
        table = pa.table({k: pa.array(v, type=types.get(k)) for k, v in columns.items()})
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    ts = pa.timestamp("us")
    day0 = dt.datetime(1995, 1, 1)
    n_cust, n_orders = 500, 5000
    write(
        "customer",
        {
            "c_custkey": list(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
            "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
            "c_mktsegment": [
                rng.choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
                for _ in range(n_cust)
            ],
        },
        {"c_nationkey": pa.int32()},
    )
    orders = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")}
    lines = {
        k: []
        for k in (
            "l_orderkey l_partkey l_suppkey l_linenumber l_quantity l_extendedprice "
            "l_discount l_tax l_returnflag l_linestatus l_shipdate"
        ).split()
    }
    for o in range(n_orders):
        odate = day0 + dt.timedelta(days=rng.randrange(7 * 365))
        # one order in ten is a bulk order, so some pass q18's threshold
        bulk = rng.random() < 0.1
        total = 0.0
        for ln in range(1, (7 if bulk else rng.randint(1, 7)) + 1):
            qty = float(rng.randint(40, 50) if bulk else rng.randint(1, 50))
            price = round(qty * rng.uniform(900, 2000), 2)
            total += price
            ship = odate + dt.timedelta(days=rng.randint(1, 120))
            for k, v in zip(
                lines,
                (
                    o,
                    rng.randrange(400),
                    rng.randrange(50),
                    ln,
                    qty,
                    price,
                    rng.randint(0, 10) / 100,
                    rng.randint(0, 8) / 100,
                    rng.choice("ANR"),
                    "F" if ship < dt.datetime(2000, 6, 17) else "O",
                    ship,
                ),
            ):
                lines[k].append(v)
        for k, v in zip(
            orders,
            (
                o,
                rng.randrange(n_cust),
                rng.choice("FOP"),
                round(total, 2),
                odate,
                rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
            ),
        ):
            orders[k].append(v)
    write("orders", orders, {"o_orderdate": ts})
    write("lineitem", lines, {"l_linenumber": pa.int32(), "l_shipdate": ts})

    n_events, t = 5000, dt.datetime(2024, 1, 1)
    events = {k: [] for k in ("event_id", "ts", "user_id", "event_type", "value", "props")}
    for i in range(n_events):
        # whole seconds: events_sessionize compares gaps in seconds and
        # its oracle in microseconds, so a gap within a second of its
        # 30 minutes would split a session on one side only
        t += dt.timedelta(seconds=round(rng.expovariate(1 / 60)))
        for k, v in zip(
            events,
            (
                i,
                t,
                rng.randrange(100),
                rng.choice(("click", "error", "purchase", "signup", "view")),
                round(rng.uniform(0, 100), 2),
                json.dumps({"k": rng.randrange(100)}),
            ),
        ):
            events[k].append(v)
    write("events", events, {"ts": ts})

    texts: list[str] = []
    for i in range(DOCS):
        if i % REPEAT_EVERY == REPEAT_EVERY - 1:
            words = rng.choice(texts).split()
            for _ in range(max(1, len(words) // 10)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = rng.choices(WORDS, k=rng.randint(10, 80))
        texts.append(" ".join(words))
    write(
        "documents",
        {
            "doc_id": list(range(DOCS)),
            "text": texts,
            "lang": [rng.choice(("de", "en", "es", "fr", "zh")) for _ in range(DOCS)],
            "source": [f"src{rng.randrange(20)}" for _ in range(DOCS)],
            "n_chars": [len(t) for t in texts],
        },
    )
    write(
        "embeddings",
        {
            "vec_id": list(range(DOCS)),
            "embedding": [[rng.gauss(0, 0.15) for _ in range(64)] for _ in range(DOCS)],
            "label": [rng.randrange(10) for _ in range(DOCS)],
        },
        {"embedding": pa.list_(pa.float32()), "label": pa.int32()},
    )
