"""Seeded input generator: landing audit JSON, the search sequence and the
curation tables.

Everything here is a pure function of the seed (plus fixed sizes), so the
same seed always yields byte-identical inputs.  The engine only ever sees
the files and filter dicts produced here; the expected outputs the checker
compares against are derived from the same in-memory records, never from
the engine.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

APPS = tuple(f"app-{i:02d}" for i in range(12))
ACTIONS = ("create", "read", "update", "delete", "list", "export")
WORKFLOWS = tuple(f"wf-{i:03d}" for i in range(24))
ENDPOINTS = ("/api/users", "/api/orders", "/api/files", "/api/search",
             "/api/workflows", "/api/reports")
METHODS = ("GET", "POST", "PUT", "DELETE")
STATUSES = (200, 200, 200, 201, 204, 400, 404, 409, 500, 503)
BASE = datetime(2024, 3, 1, tzinfo=timezone.utc)
SPAN_MS = 3 * 24 * 3600 * 1000  # request timestamps cover three audit dates

# Shares of injected faults, per generated transaction.
CORRUPT_SHARE = 0.005         # per kind: an object that is not valid JSON
NO_ID_SHARE = 0.005           # per kind: valid JSON without a transactionId
DUP_RESPONSE_SHARE = 0.05     # redelivered response: the same record twice
RETRY_RESPONSE_SHARE = 0.05   # a second, later response for the same txn
NO_RESPONSE_SHARE = 0.08      # request never answered: NULL status_code
ORPHAN_RESPONSE_SHARE = 0.01  # response whose request never lands
LATE_REQUEST_SHARE = 0.05     # request lands after its response
RESPONSE_LAG = 8.0            # landing positions (in transactions) a response trails by

SILVER_COLUMNS = ("transaction_id", "app_id", "endpoint", "workflow_id",
                  "action", "timestamp", "request_s3_key", "status_code",
                  "response_s3_key")
_IDX = {c: i for i, c in enumerate(SILVER_COLUMNS)}


def _iso(ms: int) -> str:
    t = BASE + timedelta(milliseconds=ms)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def _naive(ms: int) -> datetime:
    return (BASE + timedelta(milliseconds=ms)).replace(tzinfo=None)


def _key(ms: int, txn: str, leaf: str) -> str:
    return f"audit/{_naive(ms):%Y-%m-%d}/{txn}/{leaf}"


@dataclass(frozen=True)
class Obj:
    """One landing object: a file holding one JSON record, as the
    reference's uploader stores each request and each response as its own
    object (``audit/<date>/<txn>/request.json``).  ``txn`` is None for an
    object the engine must quarantine.  ``value`` is a request's seven
    request-side silver columns, or a response's ``(ms, s3_key, status)``."""

    kind: str
    line: str
    txn: str | None = None
    value: tuple | None = None


@dataclass
class Landing:
    """Landing objects in landing order; every expected output is derived
    from them."""

    objects: list[Obj] = field(default_factory=list)

    def extend(self, other: "Landing") -> None:
        self.objects += other.objects

    def _count(self, good: bool) -> dict[str, int]:
        out = {"request": 0, "response": 0}
        for o in self.objects:
            if (o.txn is not None) == good:
                out[o.kind] += 1
        return out

    @property
    def good(self) -> dict[str, int]:
        """Records per kind that must reach bronze."""
        return self._count(True)

    @property
    def bad(self) -> dict[str, int]:
        """Records per kind that must reach quarantine."""
        return self._count(False)

    @property
    def silver(self) -> dict[str, tuple]:
        return silver_rows(self.objects)


def responses(objects) -> dict[str, list[tuple]]:
    """Transaction id -> the ``(ms, s3_key, status)`` of each of its
    responses among ``objects``."""
    out: dict[str, list[tuple]] = {}
    for o in objects:
        if o.kind == "response" and o.txn is not None:
            out.setdefault(o.txn, []).append(o.value)
    return out


def silver_rows(objects) -> dict[str, tuple]:
    """The silver view over ``objects``: each request with its latest
    response (by time, then key), as a tuple in ``SILVER_COLUMNS`` order."""
    latest = {t: max(v) for t, v in responses(objects).items()}
    out = {}
    for o in objects:
        if o.kind == "request" and o.txn is not None:
            resp = latest.get(o.txn)
            out[o.txn] = o.value + ((resp[2], resp[1]) if resp else (None, None))
    return out


def landing(seed: int, n_txns: int, tag: str) -> Landing:
    """The landing objects of ``n_txns`` transactions, in landing order.
    Responses trail their request by a few positions, so they land out of
    order; some requests land after their response; some responses land
    twice or come twice; some never come; and a small share of objects are
    corrupt or carry no ``transactionId``.  ``tag`` keeps transaction ids
    of separately generated batches disjoint."""
    rng = random.Random(f"landing:{seed}:{tag}")
    placed: list[tuple[float, int, Obj]] = []

    def put(pos: float, obj: Obj) -> None:
        placed.append((pos, len(placed), obj))

    def bad(kind: str) -> Obj:
        if rng.random() < CORRUPT_SHARE / (CORRUPT_SHARE + NO_ID_SHARE):
            line = '{"transactionId": "x-%d", "timestamp": "2024-03-0' % rng.randrange(10**9)
        else:
            line = json.dumps({"timestamp": _iso(rng.randrange(SPAN_MS)),
                               "appId": rng.choice(APPS)})
        return Obj(kind, line)

    for i in range(n_txns):
        for kind in ("request", "response"):
            if rng.random() < CORRUPT_SHARE + NO_ID_SHARE:
                put(i + rng.random(), bad(kind))
        txn = f"t{tag}-{i:05d}"
        ms = rng.randrange(SPAN_MS)
        app, action = rng.choice(APPS), rng.choice(ACTIONS)
        wf, url = rng.choice(WORKFLOWS), rng.choice(ENDPOINTS)
        line = json.dumps({
            "transactionId": txn, "timestamp": _iso(ms),
            "method": rng.choice(METHODS), "url": url,
            "headers": {"content-type": "application/json", "x-request-id": txn},
            "body": json.dumps({"n": i, "q": rng.randrange(1000)}),
            "query": {"page": str(rng.randrange(5))},
            "files": [{"key": f"files/{txn}/a.bin", "originalName": "a.bin"}]
            if rng.random() < 0.1 else [],
            "appId": app, "workflowId": wf, "action": action,
        })
        request = Obj("request", line, txn, (txn, app, url, wf, action, _naive(ms),
                                             _key(ms, txn, "request.json")))
        last = float(i)
        if rng.random() >= NO_RESPONSE_SHARE:
            r_ms = ms
            for _ in range(2 if rng.random() < RETRY_RESPONSE_SHARE else 1):
                r_ms += 1 + rng.randrange(2000)
                status = rng.choice(STATUSES)
                resp = Obj("response", json.dumps({
                    "transactionId": txn, "timestamp": _iso(r_ms), "statusCode": status,
                    "body": "ok", "appId": app, "workflowId": wf, "action": action}),
                    txn, (r_ms, _key(r_ms, txn, "response.json"), status))
                last += rng.random() * RESPONSE_LAG
                put(last, resp)
                if rng.random() < DUP_RESPONSE_SHARE:
                    put(last + rng.random() * RESPONSE_LAG, resp)
        late = rng.random() < LATE_REQUEST_SHARE
        put(last + rng.random() if late else float(i), request)
        if rng.random() < ORPHAN_RESPONSE_SHARE:
            r_ms = rng.randrange(SPAN_MS)
            orphan = f"orphan{tag}-{i}"
            put(i + rng.random(), Obj("response", json.dumps({
                "transactionId": orphan, "timestamp": _iso(r_ms), "statusCode": 200}),
                orphan, (r_ms, _key(r_ms, orphan, "response.json"), 200)))
    return Landing([o for _, _, o in sorted(placed)])


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


# ---------------------------------------------------------------- searches

# Distinct filters per shape; the shape mix is fixed so every seed has the
# same number of misses (one per distinct filter) and the same miss-cost mix.
SHAPES = (("none", 1), ("app", 3), ("action", 2), ("app_action", 5),
          ("app_workflow", 5), ("txn", 4))
ZIPF_S = 1.1


def _distinct_filters(rng: random.Random, silver: dict[str, tuple]) -> list[dict]:
    txns = sorted(silver)
    pairs = sorted({(r[1], r[3]) for r in silver.values()})
    pools = {
        "none": [{}],
        "app": [{"app_id": a} for a in APPS],
        "action": [{"action": a} for a in ACTIONS],
        "app_action": [{"app_id": a, "action": b} for a in APPS for b in ACTIONS],
        "app_workflow": [{"app_id": a, "workflow_id": w} for a, w in pairs],
    }
    out: list[dict] = []
    for shape, n in SHAPES:
        if shape == "txn":
            out += [{"transaction_id": t} for t in rng.sample(txns, n)]
        else:
            out += rng.sample(pools[shape], n)
    return out


def search_sequence(seed: int, silver: dict[str, tuple], n_requests: int) -> list[dict]:
    """A Zipf-distributed request sequence over the reference's filter
    shapes.  Rank ``r`` gets ``1 + extra * r^-s / H`` requests (floored,
    remainder to the top ranks), so the repeat structure - and the cache
    hit ratio it implies - is the same for every seed; the seed picks
    which filter sits at which rank and the request order."""
    rng = random.Random(f"search:{seed}")
    distinct = _distinct_filters(rng, silver)
    rng.shuffle(distinct)
    d = len(distinct)
    if n_requests < d:
        raise ValueError(f"need at least {d} requests, got {n_requests}")
    w = [1.0 / (r + 1) ** ZIPF_S for r in range(d)]
    extra = n_requests - d
    counts = [1 + int(extra * x / sum(w)) for x in w]
    for r in range(n_requests - sum(counts)):
        counts[r % d] += 1
    seq = [f for f, c in zip(distinct, counts) for _ in range(c)]
    rng.shuffle(seq)
    return seq


def expected_search(silver: dict[str, tuple], filters: dict, limit: int = 100) -> list[tuple]:
    """Plain-Python top-``limit``: equality filters, newest first, ties by
    transaction id descending (the engine's documented total order)."""
    rows = [r for r in silver.values() if matches(r, filters)]
    rows.sort(key=rank, reverse=True)
    return rows[:limit]


def matches(row: tuple, filters: dict) -> bool:
    """Whether a silver row passes the equality filters."""
    return all(row[_IDX[k]] == v for k, v in filters.items())


def rank(row: tuple) -> tuple:
    """A silver row's place in the search order (larger comes first)."""
    return row[_IDX["timestamp"]], row[_IDX["transaction_id"]]


# ---------------------------------------------------------------- curation

VOCAB = ("spark", "stream", "batch", "table", "query", "join", "agg", "sort",
         "filter", "scan", "hash", "merge", "window", "group", "order", "line",
         "part", "column", "row", "key", "value", "data", "vector", "customer",
         "fast", "slow", "big", "small", "the", "a", "index", "shard", "page",
         "cache", "plan", "task", "stage", "job", "node", "edge")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
DIM = 64
LABELS = 10


@dataclass(frozen=True)
class CurationSize:
    docs: int
    vectors: int
    orders: int
    customers: int
    suppliers: int


def curation_tables(out_dir: str, seed: int, size: CurationSize) -> dict[str, int]:
    """Write documents, embeddings, orders and lineitem parquet tables with
    the schemas of the repository's test fixtures.  About a fifth of the
    documents copy an earlier one exactly, after reformatting, or with one
    word appended, so every dedup operator has clusters to find.
    Near-duplicates stay at word-3-gram Jaccard >= 0.95, where the engine's
    LSH banding finds every pair and so matches the exact oracle, as on the
    test fixtures."""
    rng = np.random.default_rng([seed, 0xC0DE])
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(VOCAB)

    texts: list[str] = []
    bases: list[int] = []  # originals long enough to carry a near-duplicate
    for i in range(size.docs):
        if bases and rng.random() < 0.2:
            words = texts[bases[int(rng.integers(0, len(bases)))]].split()
            u = rng.random()
            if u < 0.3:      # exact copy
                pass
            elif u < 0.5:    # reformatted copy: same text after normalisation
                words[0] = words[0].upper()
                words[-1] += " "
            else:            # one word appended: word-3-gram Jaccard >= 0.97
                words.append(str(rng.choice(vocab)))
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(vocab, n)))
            if n >= 40:
                bases.append(i)
    docs = pa.table({
        "doc_id": pa.array(np.arange(size.docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(x)] for x in rng.integers(0, len(LANGS), size.docs)]),
        "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 20, size.docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centroids = rng.normal(0, 1, (LABELS, DIM))
    labels = rng.integers(0, LABELS, size.vectors)
    vecs = (centroids[labels] * 0.15 + rng.normal(0, 0.12, (size.vectors, DIM))
            ).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(size.vectors), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })

    n_o = size.orders
    odate = (np.datetime64("1993-01-01", "us")
             + rng.integers(0, 6 * 365 * 86400, n_o).astype("timedelta64[s]"))
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_o + 1) * 4, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, size.customers + 1, n_o), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]), n_o)),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 5e5, n_o), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_o)),
    })
    per = rng.integers(1, 8, n_o)
    n_l = int(per.sum())
    okey = np.repeat(orders.column("o_orderkey").to_numpy(), per)
    lnum = np.concatenate([np.arange(1, p + 1) for p in per]).astype(np.int32)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n_l), 2)
    ship = np.repeat(odate.astype("datetime64[us]"), per) + \
        rng.integers(1, 122, n_l).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20 * size.suppliers + 1, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, size.suppliers + 1, n_l), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_l) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_l) / 100, 2)),
        "l_returnflag": pa.array(rng.choice(np.array(["R", "A", "N"]), n_l)),
        "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), n_l)),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    tables = {"documents": docs, "embeddings": emb, "orders": orders,
              "lineitem": lineitem}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
