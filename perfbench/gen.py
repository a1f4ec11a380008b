"""Seeded input generators for the benchmark, cached on disk.

Two generators, both pure functions of (seed, parameters):

- `wire_inputs`: Kinesis-shaped content-operation records (the `cms_sync`
  workload) written as many small parquet replay files, plus a pack of the
  gzip objects behind the `https` pointers and, per record, what it must
  decode to (from which `expected_table` derives the closed-form state).
- `table_inputs`: the ten catalog tables (`region` ... `embeddings`) at a
  scale factor, with the schemas and value domains FIXTURES.md documents.

Each result lives under `<cache>/<kind>-<digest of seed and parameters>/`
and is reused when its `DONE` marker exists. The engine only ever sees the
files written here.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import math
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2

# Same base as the engine's fixture (56 digits), so every generated sequence
# number has the same width.
SEQ_BASE = 49590338271490256608559692538361571095921575989136588898
EPOCH_S = 1_714_521_600  # 2024-05-01T00:00:00Z
DOC_TYPES = ("story", "gallery", "video", "redirect")
DOC_TYPE_P = (0.7, 0.1, 0.1, 0.1)
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


@dataclass(frozen=True)
class WireParams:
    """Shape of the `cms_sync` wire stream (see perfbench/README.md)."""

    n_files: int = 8  # one per micro-batch; more than a run can drain
    records_per_file: int = 4000  # per-record work is most of a batch (README)
    n_docs: int = 4000  # distinct document ids before the Zipf draw
    zipf_s: float = 1.1  # key skew
    shards: int = 4
    spill: float = 0.10  # share of records sent as https pointers
    expire: float = 0.05  # share of pointers whose object is missing
    corrupt: float = 0.005  # share of records that are not gzip
    wrong_type: float = 0.005  # share with an envelope type != content-operation
    late: float = 0.05  # share arriving after newer events of their key
    delete: float = 0.15  # share of operations that are deletes
    body_median_chars: int = 600  # lognormal body size
    body_sigma: float = 0.8


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def _cache_dir(cache: str, kind: str, key: dict) -> tuple[str, bool]:
    path = os.path.join(cache, f"{kind}-{_digest({'v': GEN_VERSION, **key})}")
    return path, os.path.exists(os.path.join(path, "DONE"))


def _mark_done(path: str) -> None:
    with open(os.path.join(path, "DONE"), "w") as f:
        f.write("ok\n")


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


# ----------------------------------------------------------------- wire stream


def body_digest(body_json: str | None) -> str | None:
    """Digest of a body as parsed JSON, so serializer spacing cannot matter."""
    if body_json is None:
        return None
    return _canon_digest(json.loads(body_json))


def _canon_digest(obj) -> str:
    canon = json.dumps(obj, sort_keys=True, separators=(",", ":"))
    return hashlib.sha1(canon.encode()).hexdigest()


def _wire_records(rng: np.random.Generator, p: WireParams, n: int, pack):
    """Draw `n` operations in arrival order. Returns (rows, meta): rows are
    (shard_id, sequence_number, data) and meta holds what each record must
    decode to (None for a record decode has to drop). Payloads behind
    pointers are appended to the open object `pack` file."""
    ranks = np.minimum(rng.zipf(p.zipf_s, n), p.n_docs) - 1
    perm = rng.permutation(p.n_docs)  # spread hot keys over types and shards
    doc = perm[ranks]
    dtype = rng.choice(len(DOC_TYPES), size=p.n_docs, p=DOC_TYPE_P)[doc]
    org = np.where(doc % 10 == 0, "otherorg", "washpost")
    branch = np.where(rng.random(n) < 0.05, "exp-A", "default")
    published = rng.random(n) < 0.6
    is_delete = rng.random(n) < p.delete
    late = rng.random(n) < p.late
    lag = rng.integers(60, 3600, n)
    n_chars = np.clip(
        rng.lognormal(math.log(p.body_median_chars), p.body_sigma, n), 20, 20_000
    ).astype(int)
    spill = rng.random(n) < p.spill
    expired = spill & (rng.random(n) < p.expire)
    bad = rng.random(n)
    corrupt = bad < p.corrupt
    wrong_type = (bad >= p.corrupt) & (bad < p.corrupt + p.wrong_type)
    referent = rng.random(n) < 0.2
    n_words = np.maximum(1, n_chars // 5)
    word_at = np.cumsum(n_words) - n_words
    vocab = np.asarray(WORDS, dtype=object)
    words = vocab[rng.integers(0, len(WORDS), int(n_words.sum()))]

    rows, meta, used = [], [], set()
    for i in range(n):
        # On-time events are 10 s apart in arrival order; late ones carry an
        # event time 10 minutes to 10 hours older. Event times are unique, so
        # newest-wins has no ties: a late time already taken moves on by 1 s.
        t = EPOCH_S + 10 * i - (10 * int(lag[i]) + 5 if late[i] else 0)
        while t in used:
            t += 1
        used.add(t)
        kind = DOC_TYPES[dtype[i]]
        doc_id = f"{kind}-{doc[i]}"
        op = f"{'delete' if is_delete[i] else 'insert'}-{kind}"
        body = None
        if not is_delete[i]:
            text = " ".join(words[word_at[i] : word_at[i] + n_words[i]])
            body = {"headline": f"{doc_id} rev {i}", "text": text}
        env = {
            "type": "not-content-operation" if wrong_type[i] else "content-operation",
            "organization_id": str(org[i]),
            "operation": op,
            "date": _rfc3339(t),
            "id": doc_id,
            "branch": str(branch[i]),
            "published": bool(published[i]),
            "created": False,
            "trigger": {
                "type": "image" if referent[i] else kind,
                "id": f"img-{i % 97}" if referent[i] else doc_id,
                "referent_update": bool(referent[i]),
                "priority": "ingestion" if late[i] else "standard",
                "app_name": "perfbench",
            },
            "body": body,
        }
        payload = json.dumps(env).encode()
        if corrupt[i]:
            data = b"\x00not-gzip" + payload[:16]
        elif spill[i]:
            off = length = 0
            if not expired[i]:
                obj = gzip.compress(payload, compresslevel=1)
                off, length = pack.tell(), pack.write(obj)
            url = pointer_url(i, off, length, expired[i])
            data = gzip.compress(url.encode(), compresslevel=1)
        else:
            data = gzip.compress(payload, compresslevel=1)
        shard = f"shardId-{hash_key(doc_id, p.shards):012d}"
        rows.append((shard, str(SEQ_BASE + i), data))
        valid = not (corrupt[i] or wrong_type[i] or (spill[i] and expired[i]))
        meta.append(
            {
                "key": [str(org[i]), doc_id, str(branch[i]), bool(published[i])],
                "op": op,
                "us": t * 1_000_000,
                "body": None if body is None else _canon_digest(body),
            }
            if valid
            else None
        )
    return rows, meta


def _rfc3339(t: int) -> str:
    return np.datetime_as_string(np.datetime64(t, "s")) + "Z"


def hash_key(doc_id: str, shards: int) -> int:
    """Partition-key routing: every record of a document lands on one shard."""
    return int(hashlib.md5(doc_id.encode()).hexdigest(), 16) % shards


# Pre-signed pointer URLs carry an expiry; the store judges it against a
# fixed clock so the same pointers expire on every run.
STORE_NOW = 1_714_600_000
_LIVE_UNTIL, _EXPIRED_AT = STORE_NOW + 86_400, STORE_NOW - 60


def pointer_url(j: int, offset: int, length: int, expired: bool) -> str:
    """A pre-signed-URL-shaped pointer to `length` bytes at `offset` of the
    object pack."""
    exp = _EXPIRED_AT if expired else _LIVE_UNTIL
    return (
        f"https://perfbench-bucket.s3.invalid/ops/{j}.json.gz"
        f"?offset={offset}&length={length}&X-Amz-Expires={exp}&X-Amz-Signature=0"
    )


class FileStore:
    """File-backed stand-in for the pointer fetch: serves a pointer's bytes
    from the object pack, and fails on an expired pointer the way S3 answers
    403. Pure function of the URL, as `decode_records` requires."""

    def __init__(self, pack_path: str):
        self.pack_path = pack_path

    def __call__(self, url: str) -> bytes:
        q = dict(kv.split("=", 1) for kv in url.split("?", 1)[1].split("&"))
        if int(q["X-Amz-Expires"]) < STORE_NOW:
            raise PermissionError(f"403 expired pointer {url}")
        with open(self.pack_path, "rb") as f:
            f.seek(int(q["offset"]))
            return f.read(int(q["length"]))


RECORD_ARROW = pa.schema(
    [("shard_id", pa.string()), ("sequence_number", pa.string()), ("data", pa.binary())]
)


def _write_stream(path, rows_per_file, mtime0):
    os.makedirs(path)
    for f, rows in enumerate(rows_per_file):
        cols = list(zip(*rows))
        tbl = pa.table(
            {"shard_id": cols[0], "sequence_number": cols[1], "data": cols[2]},
            schema=RECORD_ARROW,
        )
        name = os.path.join(path, f"batch-{f:05d}.parquet")
        pq.write_table(tbl, name)
        # the file source replays pending files in modification-time order
        os.utime(name, (mtime0 + f, mtime0 + f))


def wire_inputs(cache: str, seed: int, p: WireParams) -> dict:
    """Generate (or reuse) the wire stream for `seed`. Returns the replay
    directory, the fetcher for its pointers and, per file, what each record
    must decode to."""
    path, done = _cache_dir(cache, "wire", {"seed": seed, **asdict(p)})
    meta_path = os.path.join(path, "meta.json")
    if not done:
        _fresh(path)
        rng = np.random.default_rng(seed)
        with open(os.path.join(path, "objects.bin"), "wb") as pack:
            rows, meta = _wire_records(rng, p, p.n_files * p.records_per_file, pack)
        k = p.records_per_file
        _write_stream(
            os.path.join(path, "stream"),
            [rows[f * k : (f + 1) * k] for f in range(p.n_files)],
            1_700_000_000,
        )
        with open(meta_path, "w") as f:
            f.write(json.dumps([meta[f * k : (f + 1) * k] for f in range(p.n_files)]))
        _mark_done(path)
    with open(meta_path) as f:
        meta_files = json.load(f)
    return {
        "stream": os.path.join(path, "stream"),
        "fetch": FileStore(os.path.join(path, "objects.bin")),
        "meta": meta_files,
    }


def expected_table(meta_files: list[list]) -> dict[tuple, tuple]:
    """Closed-form CMS table after the given files: per document key the
    valid record with the newest event time wins, and a winning delete
    removes the key. Values are (last_operation, last_us, body digest)."""
    best: dict[tuple, tuple] = {}
    for recs in meta_files:
        for m in recs:
            if m is None:
                continue
            k = tuple(m["key"])
            if k not in best or m["us"] > best[k][1]:
                best[k] = (m["op"], m["us"], m["body"])
    return {k: v for k, v in best.items() if v[0].startswith("insert-")}


def table_digest(table: dict[tuple, tuple]) -> str:
    return _digest(sorted([list(k), list(v)] for k, v in table.items()))


# ---------------------------------------------------------------- batch tables


def _days(rng, n, lo: str, hi: str) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    a, b = np.datetime64(lo, "D").astype(np.int64), np.datetime64(hi, "D").astype(np.int64)
    return pa.array(rng.integers(a, b + 1, n) * 86_400_000_000, pa.timestamp("us"))


def _tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    pick = lambda vals, n: pa.array(np.asarray(vals)[rng.integers(0, len(vals), n)])  # noqa: E731
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
    }
    adj = ["large", "hot", "blue", "red", "new", "small", "cold", "old"]
    noun = ["ring", "bolt", "rod", "plate", "gear", "widget", "anvil", "gizmo"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    ts = np.sort(rng.integers(
        np.datetime64("2024-01-01", "us").astype(np.int64),
        np.datetime64("2024-01-31", "us").astype(np.int64), n_ev,
    ))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_ev)),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # Documents: 10-100 words from a 31-word vocabulary; one in twenty is a
    # near-duplicate of an earlier document with " dup" appended.
    texts = []
    for i in range(n_docs):
        if i >= 10 and i % 20 == 11:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return out


def table_inputs(cache: str, seed: int, sf: float) -> str:
    """Generate (or reuse) the catalog tables for `seed` at scale `sf`;
    returns the directory to pass as `sf_dir`."""
    path, done = _cache_dir(cache, "tables", {"seed": seed, "sf": sf})
    if not done:
        _fresh(path)
        for name, tbl in _tables(np.random.default_rng(seed), sf).items():
            pq.write_table(tbl, os.path.join(path, f"{name}.parquet"))
        _mark_done(path)
    return path
