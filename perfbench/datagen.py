"""Seeded input generators for the benchmark.

* ``build_catalog`` writes the ten catalog tables (the schemas the engine's
  fixtures use, one parquet file and one row group each) from a fixed seed.
  The tables are the benchmark's build product: they are made once per
  checkout and reused, so every run of every seed reads the same catalog.
* ``OpLog`` (with ``RULES``) and ``trickle_batches`` derive the per-run
  inputs of the ``sync`` and ``dedup_stream`` workloads from the run's
  ``--seed``; ``sync_model`` is the pure-Python model ``sync`` is checked
  against.

Only numpy, pyarrow and the standard library are used, so generation never
touches the engine under test.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SEED = 42
# Rows at scale factor 1; the benchmark runs at CATALOG_SF (lineitem = 60k
# rows). At this size every headliner's wall is dominated by per-job fixed
# cost, the regime the bench.py ledgers found at sf0.1 too.
CATALOG_SF = 0.01
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word bags; 5% of documents are an earlier document plus the
    token ``dup``, so every query family that looks for near-copies finds
    some."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"], dtype=object)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.integers(0, len(langs), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def catalog_tables(sf: float = CATALOG_SF) -> dict[str, pa.Table]:
    rng = np.random.default_rng(CATALOG_SEED)
    n = {t: max(100, int(r * sf)) for t, r in _ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": _pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c
            ),
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (p, 2))],
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
            "p_type": _pick(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p
            ),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2),
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000, 500_000, o),
            "o_orderdate": _ts(_epoch_us(1995, 1, 1) + rng.integers(0, 2400, o) * _DAY_US),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
            ),
        }
    )
    li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105_000, li),
            "l_discount": np.round(rng.integers(0, 11, li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, li) / 100, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], li),
            "l_linestatus": _pick(rng, ["F", "O"], li),
            "l_shipdate": _ts(_epoch_us(1995, 1, 2) + rng.integers(0, 2500, li) * _DAY_US),
        }
    )
    e = n["events"]
    gaps = rng.exponential(259e6, e).astype("int64") + 1
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": _ts(_epoch_us(2024, 1, 1) + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], e),
            "value": np.maximum(0.01, np.round(rng.exponential(50, e), 2)),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, m)
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(m), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def build_catalog(root: str, sf: float = CATALOG_SF) -> str:
    """Write the catalog at scale factor ``sf`` under ``root`` once; return
    its directory."""
    out = os.path.join(root, f"catalog-sf{sf}-seed{CATALOG_SEED}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in catalog_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.replace(tmp, out)
    return out


def documents(catalog: str) -> list[tuple[int, str]]:
    """(doc_id, text) of the catalog's documents."""
    t = pq.read_table(os.path.join(catalog, "documents.parquet"), columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


# --- sync: a KRMSyncer op-log and rule table --------------------------------

EXACT_GVK = ("e2e.gkelabs.io", "v1alpha1", "TestCRD")
KCC_GVKS = (
    ("kcc.cnrm.cloud.google.com", "v1beta1", "KCCResource"),
    ("fake.cnrm.cloud.google.com", "v1", "FakeObject"),
    ("cnrm.cloud.google.com", "v1", "Apex"),
)
OTHER_GVKS = (("", "v1", "Service"), ("apps", "v1", "Deployment"))
GVKS = (EXACT_GVK, *KCC_GVKS, *OTHER_GVKS)
NAMESPACES = tuple(f"ns-{i:02d}" for i in range(20))
KCC_GLOB = "*.cnrm.cloud.google.com"

# Rules shaped like the reference's integration cases. Pull rules write to
# one shared local destination, so their match sets are kept disjoint: two
# syncers writing one key with the same seq would leave the winner
# unspecified. Push rules each own a remote destination.
# (name, suspend, mode, group, version, kind, namespaces, sync_fields,
#  syncer_namespace, remote_secret)
RULES = (
    ("basic", False, "pull", *EXACT_GVK, None, None, None, None),
    ("glob-ns", False, "pull", KCC_GLOB, "*", "*", list(NAMESPACES[:5]),
     ["spec", "status"], None, None),
    ("default-mode", False, "", "kcc.cnrm.cloud.google.com", "*", "*",
     list(NAMESPACES[10:15]), ["spec.resourceID"], None, None),
    ("suspended", True, "pull", "", "v1", "Service", None, ["spec"], None, None),
    ("push-spec", False, "push", *EXACT_GVK, list(NAMESPACES[:10]), ["spec"],
     "prod", "kc-a"),
)
RULE_SCHEMA = (
    "syncer_name string, suspend boolean, mode string, rule_group string, "
    "rule_version string, rule_kind string, namespaces array<string>, "
    "sync_fields array<string>, syncer_namespace string, remote_secret string"
)
_OBJ_TYPE = pa.struct(
    [
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("group", pa.string()),
        ("version", pa.string()),
        ("kind", pa.string()),
        ("namespace", pa.string()),
        ("name", pa.string()),
        ("labels", pa.map_(pa.string(), pa.string())),
        ("annotations", pa.map_(pa.string(), pa.string())),
        ("spec", pa.struct([("foo", pa.string()), ("resourceID", pa.string())])),
        ("status", pa.struct([("bar", pa.string())])),
        ("resource_version", pa.string()),
        ("uid", pa.string()),
    ]
)


class OpLog:
    """A seeded watch stream: batch 0 creates ``preload`` objects, every
    later batch holds ``batch_events`` events, about 5% deletes of live
    objects, 25% creates and the rest updates. Events carry a global
    ``seq``; batches are generated on demand and are a pure function of
    (seed, batch index). Batch 0 is drawn from ``CATALOG_SEED`` whatever
    the seed, so every run starts from the same preloaded objects and the
    seed chooses what happens to them."""

    def __init__(self, seed: int, preload: int, batch_events: int):
        self.seed = seed
        self.rng = random.Random(CATALOG_SEED)
        self.preload = preload
        self.batch_events = batch_events
        self.live: list[tuple] = []
        self.pos: dict[tuple, int] = {}
        self.next_obj = 0
        self.seq = 0

    def _new_key(self) -> tuple:
        i = self.next_obj
        self.next_obj += 1
        gvk = GVKS[self.rng.randrange(len(GVKS))]
        return (*gvk, NAMESPACES[self.rng.randrange(len(NAMESPACES))], f"obj-{i}")

    def _event(self, op: str, key: tuple) -> dict:
        self.seq += 1
        s = self.seq
        if op == "delete":
            payload = dict(labels=None, annotations=None, spec=None, status=None)
        else:
            r = self.rng.randrange(1 << 30)
            payload = dict(
                labels={"app": key[4][-3:], "tier": "t%d" % (r % 3)},
                annotations={"note": "n%d" % (r % 7)},
                spec={"foo": "f%d" % r, "resourceID": None if r % 4 == 0 else "rid-%s" % key[4]},
                status={"bar": "b%d" % s},
            )
        return dict(
            seq=s, op=op, group=key[0], version=key[1], kind=key[2],
            namespace=key[3], name=key[4], resource_version=str(s),
            uid="uid-%s" % key[4], **payload,
        )

    def _add(self, key: tuple) -> None:
        self.pos[key] = len(self.live)
        self.live.append(key)

    def _remove(self, key: tuple) -> None:
        i = self.pos.pop(key)
        last = self.live.pop()
        if last != key:
            self.live[i] = last
            self.pos[last] = i

    def batch(self) -> list[dict]:
        events = []
        if self.seq == 0:
            for _ in range(self.preload):
                k = self._new_key()
                self._add(k)
                events.append(self._event("upsert", k))
            self.rng = random.Random(self.seed)
            return events
        for _ in range(self.batch_events):
            u = self.rng.random()
            if u < 0.05 and self.live:
                k = self.live[self.rng.randrange(len(self.live))]
                self._remove(k)
                events.append(self._event("delete", k))
            elif u < 0.30 or not self.live:
                k = self._new_key()
                self._add(k)
                events.append(self._event("upsert", k))
            else:
                k = self.live[self.rng.randrange(len(self.live))]
                events.append(self._event("upsert", k))
        return events


def write_events(events: list[dict], path: str) -> None:
    pq.write_table(pa.Table.from_pylist(events, pa.schema(list(_OBJ_TYPE))), path)


def gvk_match(rule: tuple, key: tuple) -> bool:
    _, _, _, g, v, k, nss, _, _, _ = rule
    kcc = g.endswith(".cnrm.cloud.google.com") or g == "cnrm.cloud.google.com"
    if kcc and v == "*" and k == "*":
        ok = key[0].endswith("cnrm.cloud.google.com") if g == KCC_GLOB else key[0] == g
    else:
        ok = key[:3] == (g, v, k)
    return ok and (not nss or key[3] in nss)


def key_of(e: dict) -> tuple:
    return (e["group"], e["version"], e["kind"], e["namespace"], e["name"])


def destination(rule: tuple) -> str:
    return f"remote-{rule[8]}-{rule[9]}" if rule[2] == "push" else "local"


def project(rule: tuple, e: dict) -> dict:
    """One event as ``rule`` projects it into its destination: identity,
    labels and annotations always, spec, spec.resourceID and status as the
    rule's sync_fields say (default: status)."""
    fields = rule[7] or ["status"]
    spec = None
    if e["op"] != "delete":
        if "spec" in fields:
            spec = dict(e["spec"])
        elif "spec.resourceID" in fields and e["spec"]["resourceID"] is not None:
            spec = {"foo": None, "resourceID": e["spec"]["resourceID"]}
    keep = ("seq", "op", "group", "version", "kind", "namespace", "name", "labels", "annotations")
    return {
        **{k: e[k] for k in keep},
        "spec": spec,
        "status": e["status"] if "status" in fields else None,
    }


def sync_model(events: list[dict]) -> dict[str, dict[tuple, dict]]:
    """Pure-Python last-writer-wins model of the rule semantics: for each
    destination, key -> projected row of the winning event (highest seq).
    A winning delete stays as a tombstone row."""
    state: dict[str, dict[tuple, dict]] = {}
    active = [r for r in RULES if not r[1]]
    for e in events:
        key = key_of(e)
        for r in active:
            if gvk_match(r, key):
                dest = state.setdefault(destination(r), {})
                old = dest.get(key)
                if old is None or old["seq"] < e["seq"]:
                    dest[key] = project(r, e)
    return state


def state_rows(rows: dict[tuple, dict]) -> dict[tuple, tuple]:
    """key -> (seq, op, spec.foo, spec.resourceID, status.bar), the fields
    the correctness check compares, tombstones included."""
    out = {}
    for k, r in rows.items():
        spec, status = r["spec"] or {}, r["status"] or {}
        out[k] = (r["seq"], r["op"], spec.get("foo"), spec.get("resourceID"), status.get("bar"))
    return out


def write_state_rows(rows: list[dict], path: str) -> None:
    keep = [f for f in _OBJ_TYPE if f.name not in ("resource_version", "uid")]
    pq.write_table(pa.Table.from_pylist(rows, pa.schema(keep)), path)


# --- dedup_stream: trickle batches with planted near-copies ---------------


def trickle_batches(seed: int, base: list[tuple[int, str]], per_batch: int, copies: int):
    """Yield (rows, planted) per batch: ``per_batch`` new documents, of
    which ``copies`` are near-copies of a base document with one word
    replaced. ``planted`` lists the (base id, copy id) pairs. Only base
    documents of at least 40 words are copied, so a one-word edit keeps
    the 3-shingle Jaccard similarity near 0.9, far above the index's 0.5
    threshold."""
    rng = random.Random(seed)
    long_docs = [(i, t) for i, t in base if len(t.split()) >= 40]
    next_id = 10_000_000
    while True:
        rows, planted = [], []
        for j in range(per_batch):
            if j < copies:
                src_id, text = long_docs[rng.randrange(len(long_docs))]
                words = text.split()
                w = rng.randrange(len(words))
                words[w] = "edit%d" % rng.randrange(1000)
                rows.append((next_id, " ".join(words)))
                planted.append((src_id, next_id))
            else:
                k = rng.randrange(10, 100)
                rows.append((next_id, " ".join(rng.choice(WORDS) for _ in range(k))))
            next_id += 1
        yield rows, planted
