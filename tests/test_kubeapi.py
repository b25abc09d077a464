"""KubeApiClient (streaming/kubeapi.py) against an in-process fake
apiserver — the engine side of the reference's cluster connectivity
(discovery export.go:98-128; List export.go:130; watch
krmsyncer_controller.go:283-325), exercised over real HTTP."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from kube_etl_spark.streaming.kubeconfig import RestConfig
from kube_etl_spark.streaming.kubeapi import (
    KubeApiClient,
    KubeApiError,
    cluster_export,
    snapshot_rows,
    watch_to_landing,
)

from .conftest import JOBS_DIR

TOKEN = "sha256~fake-token"


def _cm(ns, name, rv, data=None):
    return {
        "apiVersion": "v1", "kind": "ConfigMap",
        "metadata": {"namespace": ns, "name": name, "resourceVersion": str(rv)},
        "data": data or {},
    }


def _crd_obj(ns, name, rv, foo="f"):
    return {
        "apiVersion": "e2e.gkelabs.io/v1alpha1", "kind": "TestCRD",
        "metadata": {"namespace": ns, "name": name, "resourceVersion": str(rv),
                     "labels": {"team": "t1"}},
        "spec": {"foo": foo, "resourceID": f"rid-{name}"},
        "status": {"bar": f"b-{name}"},
    }


CMS = [_cm("default", f"cm-{i}", 100 + i) for i in range(5)]
CRDS = [_crd_obj("prod", f"obj-{i}", 200 + i) for i in range(3)]
NODES = [{"apiVersion": "v1", "kind": "Node",
          "metadata": {"name": "node-1", "resourceVersion": "50"}}]
NAMESPACES = [
    {"apiVersion": "v1", "kind": "Namespace",
     "metadata": {"name": "default", "resourceVersion": "10"}},
    {"apiVersion": "v1", "kind": "Namespace",
     "metadata": {"name": "kube-system", "resourceVersion": "11"}},
]

WATCH_EVENTS = [
    {"type": "ADDED", "object": _crd_obj("prod", "obj-9", 300, foo="new")},
    {"type": "BOOKMARK", "object": {"metadata": {"resourceVersion": "301"}}},
    {"type": "MODIFIED", "object": _crd_obj("prod", "obj-9", 302, foo="edited")},
    {"type": "DELETED", "object": _crd_obj("prod", "obj-0", 303)},
]


class FakeApiServer(BaseHTTPRequestHandler):
    seen_auth: list = []
    seen_watch_q: list = []  # query dicts of every watch request

    def log_message(self, *a):  # quiet
        pass

    def _stream(self, chunks, stall_after=None, stall_s=0.0):
        """Write a newline-delimited body, optionally stalling between
        chunks (the quiet-stream shape real watches have)."""
        import time as _time

        body = b"".join(chunks)
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        try:
            for i, c in enumerate(chunks):
                if stall_after is not None and i == stall_after:
                    _time.sleep(stall_s)
                self.wfile.write(c)
                self.wfile.flush()
        except OSError:
            pass  # client hung up mid-stall; expected in timeout tests

    def _json(self, code, body):
        payload = json.dumps(body).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def do_GET(self):  # noqa: C901 - a routing table, plainly
        FakeApiServer.seen_auth.append(self.headers.get("Authorization"))
        if self.headers.get("Authorization") == "Bearer revoked-tok":
            # a token the server no longer honors (revoked before its
            # expirationTimestamp) — the 401-retry tests' trigger
            return self._json(401, {"message": "Unauthorized"})
        u = urlparse(self.path)
        q = parse_qs(u.query)
        p = u.path
        if p == "/api":
            return self._json(200, {"versions": ["v1"]})
        if p == "/api/v1":
            return self._json(200, {"resources": [
                {"name": "configmaps", "kind": "ConfigMap", "namespaced": True,
                 "verbs": ["get", "list", "watch"]},
                {"name": "nodes", "kind": "Node", "namespaced": False,
                 "verbs": ["get", "list"]},
                {"name": "namespaces", "kind": "Namespace", "namespaced": False,
                 "verbs": ["get", "list", "watch"]},
                {"name": "pods/status", "kind": "Pod", "namespaced": True,
                 "verbs": ["get", "list"]},                     # subresource -> skipped
                {"name": "bindings", "kind": "Binding", "namespaced": True,
                 "verbs": ["create"]},                          # no list -> skipped
            ]})
        if p == "/apis":
            return self._json(200, {"groups": [
                {"name": "e2e.gkelabs.io",
                 "preferredVersion": {"version": "v1alpha1"},
                 "versions": [{"version": "v1alpha1"}]},
                {"name": "broken.example.com",
                 "preferredVersion": {"version": "v9"},
                 "versions": [{"version": "v9"}]},
            ]})
        if p == "/apis/e2e.gkelabs.io/v1alpha1":
            return self._json(200, {"resources": [
                {"name": "testcrds", "kind": "TestCRD", "namespaced": True,
                 "verbs": ["get", "list", "watch"]},
            ]})
        if p == "/apis/broken.example.com/v9":
            return self._json(503, {"message": "group serving failed"})
        if p == "/api/v1/configmaps":
            # two pages via continue token (the pagination the
            # reference's one-shot List lacks)
            if q.get("continue") == ["page2"]:
                return self._json(200, {
                    "metadata": {"resourceVersion": "1000"},
                    "items": CMS[3:],
                })
            return self._json(200, {
                "metadata": {"resourceVersion": "1000", "continue": "page2"},
                "items": CMS[:3],
            })
        if p == "/api/v1/nodes":
            return self._json(200, {"metadata": {"resourceVersion": "1000"},
                                    "items": NODES})
        if p == "/api/v1/namespaces":
            # the real-cluster golden objects the live smoke asserts on
            # (export_test.go:118-135: every cluster has these two)
            if q.get("watch") == ["1"]:
                FakeApiServer.seen_watch_q.append(q)
                if q.get("resourceVersion") == ["1"]:
                    ev = {"type": "ERROR", "object": {
                        "kind": "Status", "code": 410, "reason": "Expired",
                        "message": "too old resource version: 1 (999)"}}
                    return self._stream([json.dumps(ev).encode() + b"\n"])
                bk = {"type": "BOOKMARK",
                      "object": {"apiVersion": "v1", "kind": "Namespace",
                                 "metadata": {"resourceVersion": "1000"}}}
                return self._stream([json.dumps(bk).encode() + b"\n"])
            return self._json(200, {"metadata": {"resourceVersion": "1000"},
                                    "items": NAMESPACES})
        if p == "/apis/e2e.gkelabs.io/v1alpha1/slowcrds":
            # one event, then silence longer than the client's read
            # budget, then another event (never delivered)
            if q.get("watch") == ["1"]:
                FakeApiServer.seen_watch_q.append(q)
                return self._stream(
                    [
                        json.dumps(WATCH_EVENTS[0]).encode() + b"\n",
                        json.dumps(WATCH_EVENTS[2]).encode() + b"\n",
                    ],
                    stall_after=1,
                    stall_s=3.0,
                )
        if p == "/apis/e2e.gkelabs.io/v1alpha1/truncatedcrds":
            # complete event, then a mid-line disconnect (the partial
            # JSON fragment a dropped connection leaves behind)
            if q.get("watch") == ["1"]:
                FakeApiServer.seen_watch_q.append(q)
                return self._stream(
                    [
                        json.dumps(WATCH_EVENTS[0]).encode() + b"\n",
                        b'{"type":"MODIF',
                    ]
                )
        if p == "/apis/e2e.gkelabs.io/v1alpha1/testcrds":
            if q.get("watch") == ["1"]:
                FakeApiServer.seen_watch_q.append(q)
                if q.get("resourceVersion") == ["9"]:
                    # bookmark predates the retained window: the
                    # apiserver delivers Gone IN-STREAM as an ERROR
                    # event (the other form is a plain HTTP 410)
                    ev = {"type": "ERROR", "object": {
                        "kind": "Status", "code": 410, "reason": "Expired",
                        "message": "too old resource version: 9 (999)"}}
                    body = json.dumps(ev).encode() + b"\n"
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return None
                body = b"".join(
                    json.dumps(e).encode() + b"\n" for e in WATCH_EVENTS
                )
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return None
            return self._json(200, {"metadata": {"resourceVersion": "1000"},
                                    "items": CRDS})
        return self._json(404, {"message": f"no route {p}"})


@pytest.fixture(scope="module")
def api_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), FakeApiServer)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


@pytest.fixture()
def client(api_server):
    return KubeApiClient(
        RestConfig(server=api_server, context="t", token=TOKEN), timeout_s=5
    )


def test_discovery_skips_and_tolerates(client):
    """Mirrors export.go:111-128: subresources (name with '/') and
    non-listable types are skipped; a failing group is tolerated and
    reported (export.go:100-109), not fatal."""
    resources, errors = client.discover()
    got = {(r["group"], r["plural"]) for r in resources}
    assert got == {("", "configmaps"), ("", "nodes"), ("", "namespaces"),
                   ("e2e.gkelabs.io", "testcrds")}
    assert len(errors) == 1 and "broken.example.com" in errors[0]
    assert all("HTTP 503" in e for e in errors)


def test_bearer_token_sent(client):
    FakeApiServer.seen_auth.clear()
    client.discover()
    assert FakeApiServer.seen_auth
    assert all(a == f"Bearer {TOKEN}" for a in FakeApiServer.seen_auth)


def test_list_follows_continue_tokens(client):
    pages = list(client.list_all("", "v1", "configmaps", page_size=3))
    assert len(pages) == 2
    names = [o["metadata"]["name"] for items, _ in pages for o in items]
    assert names == [f"cm-{i}" for i in range(5)]
    assert pages[0][1] == "1000"  # watch bootstrap rv from page one


def test_watch_stream_parses_events(client):
    evs = list(client.watch("e2e.gkelabs.io", "v1alpha1", "testcrds"))
    assert [e["type"] for e in evs] == ["ADDED", "BOOKMARK", "MODIFIED", "DELETED"]
    assert evs[2]["object"]["spec"]["foo"] == "edited"


def test_http_error_is_kubeapierror(client):
    with pytest.raises(KubeApiError) as exc:
        client._get_json("/apis/broken.example.com/v9")
    assert "HTTP 503" in str(exc.value)


def test_snapshot_rows_reference_path_rule(client):
    """Path derivation must match export.go:136-150: namespace '' →
    '_cluster', group '' → 'core', path = ns/group/kind/name.json."""
    resources, _ = client.discover()
    rows = list(snapshot_rows(client, resources, page_size=3))
    by_path = {r["path"]: r for r in rows}
    assert "default/core/ConfigMap/cm-0.json" in by_path
    assert "_cluster/core/Node/node-1.json" in by_path
    assert "_cluster/core/Namespace/default.json" in by_path
    assert "prod/e2e.gkelabs.io/TestCRD/obj-1.json" in by_path
    assert len(rows) == 5 + 1 + 2 + 3
    payload = json.loads(by_path["prod/e2e.gkelabs.io/TestCRD/obj-1.json"]["payload"])
    assert payload["spec"]["resourceID"] == "rid-obj-1"


def test_watch_to_landing_feeds_run_syncer(client, spark, tmp_path):
    """The live-cluster bridge end-to-end: watch events drain into the
    JSON landing zone, run_syncer --once compiles them through the rule
    engine, and the DELETED event lands as a delete (obj-0 absent from
    live state, obj-9's LATEST edit wins)."""
    import sys

    sys.path.insert(0, JOBS_DIR)
    import run_syncer

    landing = tmp_path / "oplog"
    n = watch_to_landing(
        client,
        [{"group": "e2e.gkelabs.io", "version": "v1alpha1",
          "kind": "TestCRD", "plural": "testcrds"}],
        str(landing),
    )
    assert n == 3  # BOOKMARK skipped

    rules = [{
        "syncer_name": "s1", "suspend": False, "mode": "pull",
        "rule_group": "e2e.gkelabs.io", "rule_version": "v1alpha1",
        "rule_kind": "TestCRD", "namespaces": [], "sync_fields": ["spec", "status"],
    }]
    (tmp_path / "rules.json").write_text(json.dumps(rules))
    run_syncer.main([
        "--rules", str(tmp_path / "rules.json"),
        "--oplog", str(landing),
        "--state", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--once",
    ])
    from kube_etl_spark.streaming.cdc import StateTable

    live = StateTable(
        spark, str(tmp_path / "state" / "local"),
        ["group", "version", "kind", "namespace", "name"], "seq",
    ).read().collect()
    by_name = {r["name"]: r for r in live}
    assert set(by_name) == {"obj-9"}  # obj-0 deleted by the DELETED event
    assert by_name["obj-9"]["spec"]["foo"] == "edited"  # MODIFIED (rv 302) won
    assert by_name["obj-9"]["seq"] == 302


def test_cluster_export_end_to_end(client, spark, tmp_path):
    """The reference CLI's whole pipeline against the fake apiserver:
    discovery → paginated list → one file per object in the reference
    layout → zip artifact (export.go:64-168 + pkg/sink/zip.go)."""
    import os
    import zipfile

    out = str(tmp_path / "export")
    result = cluster_export(spark, client, out, archive=True)
    assert result["types_discovered"] == 4
    assert result["objects"] == 11 and result["files"] == 11
    assert len(result["discovery_errors"]) == 1
    assert os.path.exists(os.path.join(out, "_cluster/core/Node/node-1.json"))
    with zipfile.ZipFile(out + ".zip") as zf:
        names = set(zf.namelist())
    assert "default/core/ConfigMap/cm-4.json" in names
    assert len(names) == 11


def test_run_cluster_export_cli(client, api_server, spark, tmp_path, capsys):
    """The spark-submit entrypoint end-to-end: kubeconfig file →
    parsed auth → discovery → export tree, through the front door."""
    import os
    import sys

    sys.path.insert(0, JOBS_DIR)
    import kube_etl

    kubeconfig = f"""
apiVersion: v1
kind: Config
current-context: fake
clusters:
- name: fake
  cluster:
    server: {api_server}
users:
- name: fake
  user:
    token: {TOKEN}
contexts:
- name: fake
  context:
    cluster: fake
    user: fake
"""
    (tmp_path / "kc.yaml").write_text(kubeconfig)
    out = str(tmp_path / "exp")
    kube_etl.main([
        "cluster-export",
        "--kubeconfig", str(tmp_path / "kc.yaml"),
        "--output", out,
    ])
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["objects"] == 11 and printed["files"] == 11
    assert os.path.exists(os.path.join(out, "prod/e2e.gkelabs.io/TestCRD/obj-2.json"))


def test_watch_bridge_bookmark_and_410_relist(client, api_server, spark, tmp_path, capsys):
    """The continuous bridge end-to-end: (1) a drain pass lands events
    and persists the resourceVersion bookmark; (2) a bookmark older
    than the retained window (the in-stream ERROR Gone form) triggers a
    full paginated RELIST into the snapshot zone — which
    run_snapshot_sync then diffs into state, the composition that
    recovers deletes a missed watch window contained."""
    import os
    import sys

    sys.path.insert(0, JOBS_DIR)
    import run_snapshot_sync
    import run_watch_bridge

    kubeconfig = f"""
apiVersion: v1
kind: Config
current-context: fake
clusters: [{{name: fake, cluster: {{server: {api_server}}}}}]
users: [{{name: fake, user: {{token: {TOKEN}}}}}]
contexts: [{{name: fake, context: {{cluster: fake, user: fake}}}}]
"""
    (tmp_path / "kc.yaml").write_text(kubeconfig)
    targets = [{"group": "e2e.gkelabs.io", "version": "v1alpha1",
                "kind": "TestCRD", "plural": "testcrds"}]
    (tmp_path / "targets.json").write_text(json.dumps(targets))
    bookmark = tmp_path / "bm.json"
    args = [
        "--kubeconfig", str(tmp_path / "kc.yaml"),
        "--targets", str(tmp_path / "targets.json"),
        "--landing", str(tmp_path / "oplog"),
        "--snapshots", str(tmp_path / "snaps"),
        "--bookmark", str(bookmark),
        "--once",
    ]
    run_watch_bridge.main(args)
    bm = json.loads(bookmark.read_text())
    key = "e2e.gkelabs.io/v1alpha1/testcrds"
    assert bm[key]["events"] == 3
    assert bm[key]["rv"] == "303"  # the DELETED event's resourceVersion
    assert len(os.listdir(tmp_path / "oplog")) == 1

    # age the bookmark past the server's retained window -> 410 path
    bm[key]["rv"] = "9"
    bookmark.write_text(json.dumps(bm))
    run_watch_bridge.main(args)
    bm2 = json.loads(bookmark.read_text())
    assert bm2[key]["relists"] == 1
    assert bm2[key]["rv"] == "1000"  # the relist's list resourceVersion
    snap_dir = tmp_path / "snaps" / "e2e.gkelabs.io~v1alpha1~testcrds"
    subdirs = os.listdir(snap_dir)
    assert subdirs == ["snap-1"]

    # composition: the relist snapshot flows through run_snapshot_sync
    run_snapshot_sync.main([
        "--watch", str(snap_dir),
        "--state", str(tmp_path / "snap-state"),
        "--keys", "group,version,kind,namespace,name",
        "--once",
    ])
    from kube_etl_spark.streaming.cdc import StateTable

    live = StateTable(
        spark, str(tmp_path / "snap-state"),
        ["group", "version", "kind", "namespace", "name"], "seq",
    ).read().collect()
    assert {r["name"] for r in live} == {"obj-0", "obj-1", "obj-2"}


def test_watch_requests_bookmarks():
    """Real apiservers emit BOOKMARK events only on opt-in — the watch
    MUST send allowWatchBookmarks=true (ADVICE r10) or quiet streams
    never advance the bookmark and 410 churn multiplies."""
    assert FakeApiServer.seen_watch_q, "no watch request reached the fake server"
    assert all(
        q.get("allowWatchBookmarks") == ["true"]
        for q in FakeApiServer.seen_watch_q
    )


def test_watch_read_timeout_is_budgeted(client, monkeypatch):
    """The 10 s request timeout must NOT govern watch body reads: the
    server may stay silent for the full timeoutSeconds between events.
    A stall past the budget ends the drain NORMALLY — rows so far land,
    the bookmark stands, no exception (ADVICE r10 high: this used to
    crash-loop the bridge on every low-traffic target)."""
    import tempfile
    import time

    from kube_etl_spark.streaming import kubeapi
    from kube_etl_spark.streaming.kubeapi import drain_watch

    monkeypatch.setattr(kubeapi, "WATCH_READ_MARGIN_S", 0.2)
    target = {"group": "e2e.gkelabs.io", "version": "v1alpha1",
              "kind": "TestCRD", "plural": "slowcrds"}
    with tempfile.TemporaryDirectory() as out:
        t0 = time.monotonic()
        n, last_rv = drain_watch(client, target, out, timeout_seconds=1)
        elapsed = time.monotonic() - t0
    assert n == 1  # the pre-stall event landed
    assert last_rv == "300"
    assert elapsed < 2.5  # gave up at ~1.2 s, not the 3 s stall


def test_watch_truncated_line_ends_drain(client, tmp_path):
    """A mid-line disconnect leaves a partial JSON fragment: the
    fragment is dropped (it re-delivers after restart from the
    bookmark, which it never advanced) and the drain ends cleanly."""
    from kube_etl_spark.streaming.kubeapi import drain_watch

    target = {"group": "e2e.gkelabs.io", "version": "v1alpha1",
              "kind": "TestCRD", "plural": "truncatedcrds"}
    n, last_rv = drain_watch(client, target, str(tmp_path / "out"))
    assert n == 1
    assert last_rv == "300"


def test_nonnumeric_resource_version_fails_loud():
    """Kubernetes documents resourceVersion as opaque; on a server
    where it is not an etcd integer, coercing to seq=0 would silently
    lose every LWW merge — the engine fails loudly instead (ADVICE
    r10), matching the kubeconfig module's unsupported-form
    convention."""
    from kube_etl_spark.streaming.kubeapi import event_to_oplog_row

    ev = {"type": "ADDED", "object": {
        "apiVersion": "v1", "kind": "ConfigMap",
        "metadata": {"namespace": "d", "name": "x",
                     "resourceVersion": "not-a-revision"}}}
    with pytest.raises(KubeApiError) as exc:
        event_to_oplog_row(ev, {"version": "v1", "kind": "ConfigMap"})
    assert "not-a-revision" in str(exc.value)


def test_yaml_export_rewrites_only_the_extension(spark):
    """replace(path, '.json', '.yaml') rewrote EVERY '.json' occurrence
    — an object literally named 'config.json' must export as
    'config.json.yaml' (the reference's name+ext layout, export.go:150),
    not 'config.yaml.yaml' (ADVICE r10)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("default/core/ConfigMap/config.json.json",),
         ("_cluster/core/Node/node-1.json",)],
        "path string",
    ).withColumn(
        "path",
        F.expr("concat(substring(path, 1, length(path)-5), '.yaml')"),
    )
    assert {r["path"] for r in df.collect()} == {
        "default/core/ConfigMap/config.json.yaml",
        "_cluster/core/Node/node-1.yaml",
    }


def test_bridge_tolerates_failing_target_and_persists_per_target(
    client, api_server, tmp_path, capsys
):
    """One broken target (404) must neither crash the bridge nor lose
    the bookmarks of targets already drained this pass: errors are
    counted per target and the bookmark file is written after EVERY
    target (ADVICE r10 high — a mid-pass failure used to drop the
    whole pass's bookmarks)."""
    import sys

    sys.path.insert(0, JOBS_DIR)
    import run_watch_bridge

    kubeconfig = f"""
apiVersion: v1
kind: Config
current-context: fake
clusters: [{{name: fake, cluster: {{server: {api_server}}}}}]
users: [{{name: fake, user: {{token: {TOKEN}}}}}]
contexts: [{{name: fake, context: {{cluster: fake, user: fake}}}}]
"""
    (tmp_path / "kc.yaml").write_text(kubeconfig)
    targets = [
        {"group": "e2e.gkelabs.io", "version": "v1alpha1",
         "kind": "TestCRD", "plural": "testcrds"},
        {"group": "e2e.gkelabs.io", "version": "v1alpha1",
         "kind": "Missing", "plural": "missingcrds"},
    ]
    (tmp_path / "targets.json").write_text(json.dumps(targets))
    run_watch_bridge.main([
        "--kubeconfig", str(tmp_path / "kc.yaml"),
        "--targets", str(tmp_path / "targets.json"),
        "--landing", str(tmp_path / "oplog"),
        "--snapshots", str(tmp_path / "snaps"),
        "--bookmark", str(tmp_path / "bm.json"),
        "--once",
    ])
    bm = json.loads((tmp_path / "bm.json").read_text())
    assert bm["e2e.gkelabs.io/v1alpha1/testcrds"]["events"] == 3
    assert bm["e2e.gkelabs.io/v1alpha1/missingcrds"]["errors"] == 1
    assert "missingcrds" in capsys.readouterr().err


def test_410_relist_with_syncer_state_converges_deletes(
    client, api_server, spark, tmp_path
):
    """The wiring gap ADVICE r10 named: without --syncer-state, a 410
    relist feeds only a SEPARATE snapshot-sync state, and the syncer's
    own state keeps gap-deleted keys forever. With it, the bridge diffs
    the relist against believed-live keys (merged state ∪ landed
    op-log) and lands the delta — deletes at the relist's list rv —
    into the landing zone the syncer consumes.

    obj-ghost exercises the merged-state path (synced, then deleted in
    the gap); obj-9 exercises the landed-but-unmerged path would-be
    twin via its watch events; both must be gone after the relist."""
    import sys

    sys.path.insert(0, JOBS_DIR)
    import run_syncer
    import run_watch_bridge

    from kube_etl_spark.streaming.kubeapi import _land_rows
    from kube_etl_spark.streaming.cdc import StateTable

    kubeconfig = f"""
apiVersion: v1
kind: Config
current-context: fake
clusters: [{{name: fake, cluster: {{server: {api_server}}}}}]
users: [{{name: fake, user: {{token: {TOKEN}}}}}]
contexts: [{{name: fake, context: {{cluster: fake, user: fake}}}}]
"""
    (tmp_path / "kc.yaml").write_text(kubeconfig)
    targets = [{"group": "e2e.gkelabs.io", "version": "v1alpha1",
                "kind": "TestCRD", "plural": "testcrds"}]
    (tmp_path / "targets.json").write_text(json.dumps(targets))
    landing, state, ckpt = (
        str(tmp_path / "oplog"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    rules = [{
        "syncer_name": "s1", "suspend": False, "mode": "pull",
        "rule_group": "e2e.gkelabs.io", "rule_version": "v1alpha1",
        "rule_kind": "TestCRD", "namespaces": [], "sync_fields": ["spec", "status"],
    }]
    (tmp_path / "rules.json").write_text(json.dumps(rules))
    syncer_args = ["--rules", str(tmp_path / "rules.json"), "--oplog", landing,
                   "--state", state, "--checkpoint", ckpt, "--once"]
    bridge_args = [
        "--kubeconfig", str(tmp_path / "kc.yaml"),
        "--targets", str(tmp_path / "targets.json"),
        "--landing", landing,
        "--snapshots", str(tmp_path / "snaps"),
        "--bookmark", str(tmp_path / "bm.json"),
        "--syncer-state", state,
        "--once",
    ]

    # 1. a key synced BEFORE the gap, deleted inside it (absent from
    #    the relist): land its upsert and merge it into syncer state
    _land_rows([{
        "seq": 250, "op": "upsert", "group": "e2e.gkelabs.io",
        "version": "v1alpha1", "kind": "TestCRD", "namespace": "prod",
        "name": "obj-ghost", "labels": {}, "annotations": {},
        "spec": {"foo": "g", "resourceID": "rid-ghost"}, "status": {"bar": "g"},
    }], landing)
    run_syncer.main(syncer_args)

    # 2. a normal drain pass (obj-9 events land; bookmark = 303)
    run_watch_bridge.main(bridge_args)

    # 3. age the bookmark past the retained window -> 410 -> relist
    #    (server holds only obj-0/1/2) with the delta landed
    bm_path = tmp_path / "bm.json"
    bm = json.loads(bm_path.read_text())
    bm["e2e.gkelabs.io/v1alpha1/testcrds"]["rv"] = "9"
    bm_path.write_text(json.dumps(bm))
    run_watch_bridge.main(bridge_args)

    # 4. the syncer consumes everything landed; its OWN state converges
    run_syncer.main(syncer_args)
    live = StateTable(
        spark, state + "/local",
        ["group", "version", "kind", "namespace", "name"], "seq",
    ).read().collect()
    by_name = {r["name"]: r for r in live}
    # ghost (merged-then-gap-deleted) and obj-9 (landed watch adds, gap-
    # deleted) both fall to the relist delta's deletes at seq=1000.
    # obj-0 pins the OTHER guarantee: the watch stream tombstoned it at
    # rv 303, and the fake server (deliberately inconsistently) still
    # lists it at rv 200 — the stale re-upsert must NOT resurrect the
    # newer tombstone (on a real apiserver a listed object's rv always
    # postdates its tombstone, so only the no-resurrection property is
    # observable through this shape).
    assert set(by_name) == {"obj-1", "obj-2"}
    assert all(r["seq"] >= 200 for r in live)


def test_live_smoke_harness_against_fake_server(
    api_server, spark, tmp_path, capsys, monkeypatch
):
    """`make live-smoke` (jobs/live_smoke.py) end-to-end against the
    fake apiserver: kubeconfig resolution → cluster export with the
    export_test.go:118-135 golden namespace assertion → watch-bridge
    pass → 410 probe. The harness itself must not rot while waiting
    for a real cluster; absence of KUBECONFIG degrades to exit 0."""
    import sys

    sys.path.insert(0, JOBS_DIR)
    import live_smoke

    monkeypatch.delenv("KUBECONFIG", raising=False)
    assert live_smoke.main() == 0
    assert "no cluster available" in capsys.readouterr().out

    kubeconfig = f"""
apiVersion: v1
kind: Config
current-context: fake
clusters: [{{name: fake, cluster: {{server: {api_server}}}}}]
users: [{{name: fake, user: {{token: {TOKEN}}}}}]
contexts: [{{name: fake, context: {{cluster: fake, user: fake}}}}]
"""
    kc = tmp_path / "kc.yaml"
    kc.write_text(kubeconfig)
    monkeypatch.setenv("KUBECONFIG", str(kc))
    assert live_smoke.main() == 0
    out = capsys.readouterr().out
    line = next(ln for ln in out.splitlines() if ln.startswith("live-smoke OK"))
    report = json.loads(line.removeprefix("live-smoke OK "))
    assert report["auth"] == "token"
    assert report["golden_namespace_path"] == "_cluster/core/Namespace/default.yaml"
    assert report["objects_exported"] == 11
    assert report["watch_bookmark_rv"] == "1000"  # BOOKMARK advanced it
    assert report["relist_path_fired"] is True


def test_exec_plugin_token_reaches_the_wire(api_server, tmp_path):
    """Integration of the two r11 seams: a kubeconfig whose ONLY auth is
    an exec credential plugin must drive real HTTP requests with the
    plugin-minted bearer token (kubeconfig.py mints it; kubeapi.py puts
    it on the wire per request)."""
    import sys

    plugin = tmp_path / "plugin.py"
    plugin.write_text(
        "import json\n"
        "print(json.dumps({'apiVersion': 'client.authentication.k8s.io/v1',"
        " 'kind': 'ExecCredential', 'status': {'token': 'exec-wire-tok'}}))\n"
    )
    kubeconfig = {
        "apiVersion": "v1", "kind": "Config", "current-context": "c",
        "clusters": [{"name": "c", "cluster": {"server": api_server}}],
        "users": [{"name": "u", "user": {"exec": {
            "apiVersion": "client.authentication.k8s.io/v1",
            "command": sys.executable, "args": [str(plugin)],
            "interactiveMode": "Never"}}}],
        "contexts": [{"name": "c", "context": {"cluster": "c", "user": "u"}}],
    }
    from kube_etl_spark.streaming.kubeconfig import rest_config_from_kubeconfig

    rc = rest_config_from_kubeconfig(json.dumps(kubeconfig))
    client = KubeApiClient(rc, timeout_s=5)
    FakeApiServer.seen_auth.clear()
    resources, _ = client.discover()
    assert {r["plural"] for r in resources} >= {"configmaps", "namespaces"}
    assert FakeApiServer.seen_auth
    assert all(a == "Bearer exec-wire-tok" for a in FakeApiServer.seen_auth)


def _counting_exec_rc(api_server, tmp_path, tokens):
    """RestConfig whose exec plugin serves tokens[n] on its n-th spawn
    (n persisted in a sidecar file), each with a far-future
    expirationTimestamp — so a second spawn can only mean the client
    INVALIDATED the cache, never natural expiry."""
    import sys

    plugin = tmp_path / "plugin.py"
    count = tmp_path / "count"
    plugin.write_text(
        "import json, pathlib\n"
        f"c = pathlib.Path({str(count)!r})\n"
        "n = int(c.read_text()) if c.exists() else 0\n"
        "c.write_text(str(n + 1))\n"
        f"toks = {list(tokens)!r}\n"
        "print(json.dumps({'apiVersion': 'client.authentication.k8s.io/v1',"
        " 'kind': 'ExecCredential', 'status': {"
        " 'token': toks[min(n, len(toks) - 1)],"
        " 'expirationTimestamp': '2099-01-01T00:00:00Z'}}))\n"
    )
    kubeconfig = {
        "apiVersion": "v1", "kind": "Config", "current-context": "c",
        "clusters": [{"name": "c", "cluster": {"server": api_server}}],
        "users": [{"name": "u", "user": {"exec": {
            "apiVersion": "client.authentication.k8s.io/v1",
            "command": sys.executable, "args": [str(plugin)],
            "interactiveMode": "Never"}}}],
        "contexts": [{"name": "c", "context": {"cluster": "c", "user": "u"}}],
    }
    from kube_etl_spark.streaming.kubeconfig import rest_config_from_kubeconfig

    return rest_config_from_kubeconfig(json.dumps(kubeconfig)), count


def test_exec_plugin_401_invalidates_and_retries_once(api_server, tmp_path):
    """A cached exec token the server revoked BEFORE its
    expirationTimestamp answers 401; client-go's exec transport
    invalidates the cache and re-execs the plugin for exactly one
    retry — the request succeeds with the fresh token and the plugin
    ran exactly twice (a natural-expiry respawn cannot explain it:
    the timestamps are in 2099)."""
    rc, count = _counting_exec_rc(
        api_server, tmp_path, ["revoked-tok", "fresh-tok"]
    )
    client = KubeApiClient(rc, timeout_s=5)
    FakeApiServer.seen_auth.clear()
    body = client._get_json("/api")
    assert body == {"versions": ["v1"]}
    assert FakeApiServer.seen_auth == ["Bearer revoked-tok", "Bearer fresh-tok"]
    assert count.read_text() == "2"


def test_exec_plugin_persistent_401_fails_after_one_retry(api_server, tmp_path):
    """If the re-exec'd credential is ALSO rejected, the second 401 is
    a real error (no retry loop): exactly two requests, then
    KubeApiError."""
    rc, count = _counting_exec_rc(api_server, tmp_path, ["revoked-tok"])
    client = KubeApiClient(rc, timeout_s=5)
    FakeApiServer.seen_auth.clear()
    with pytest.raises(KubeApiError, match="HTTP 401"):
        client._get_json("/api")
    assert FakeApiServer.seen_auth == ["Bearer revoked-tok"] * 2
    assert count.read_text() == "2"


def test_prune_committed_landing(spark, tmp_path):
    """ADVICE r11: the landing zone grows one file per drain forever,
    so relist_delta_rows' believed-live scan costs O(deployment age).
    The retention valve deletes files the syncer stream has COMMITTED
    (their rows are fully merged into state); uncommitted files must
    survive, and a post-prune relist must still see the landed-but-
    unmerged rows."""
    import os
    import sys

    sys.path.insert(0, JOBS_DIR)
    import run_maintenance
    import run_syncer

    from kube_etl_spark.streaming.kubeapi import (
        _land_rows,
        prune_committed_landing,
        relist_delta_rows,
    )

    landing = str(tmp_path / "oplog")
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    rules = [{
        "syncer_name": "s1", "suspend": False, "mode": "pull",
        "rule_group": "e2e.gkelabs.io", "rule_version": "v1alpha1",
        "rule_kind": "TestCRD", "namespaces": [], "sync_fields": ["spec", "status"],
    }]
    (tmp_path / "rules.json").write_text(json.dumps(rules))
    syncer_args = ["--rules", str(tmp_path / "rules.json"), "--oplog", landing,
                   "--state", state, "--checkpoint", ckpt, "--once"]

    def _row(seq, name):
        return {
            "seq": seq, "op": "upsert", "group": "e2e.gkelabs.io",
            "version": "v1alpha1", "kind": "TestCRD", "namespace": "prod",
            "name": name, "labels": {}, "annotations": {},
            "spec": {"foo": "x", "resourceID": f"rid-{name}"},
            "status": {"bar": "y"},
        }

    _land_rows([_row(10, "merged-a")], landing)
    _land_rows([_row(11, "merged-b")], landing)
    run_syncer.main(syncer_args)  # commits both files into state
    assert len(os.listdir(landing)) == 2
    _land_rows([_row(20, "unmerged")], landing)  # landed AFTER the commit

    n = prune_committed_landing(ckpt, landing)
    assert n == 2
    survivors = os.listdir(landing)
    assert len(survivors) == 1  # only the uncommitted file remains

    # believed-live after the prune = merged state ∪ surviving landing:
    # a relist containing nothing must still emit deletes for all three
    target = {"group": "e2e.gkelabs.io", "version": "v1alpha1",
              "kind": "TestCRD", "plural": "testcrds"}
    rows, n_del = relist_delta_rows(
        spark, target, [], "1000", state, landing_dir=landing)
    assert n_del == 3
    assert {r["name"] for r in rows} == {"merged-a", "merged-b", "unmerged"}

    # idempotent + CLI face; the syncer still converges afterwards
    run_maintenance.main(["prune-landing", "--landing", landing,
                          "--checkpoint", ckpt])
    assert prune_committed_landing(ckpt, landing) == 0
    run_syncer.main(syncer_args)
    assert len(os.listdir(landing)) >= 1  # newly committed file not pruned


def test_bridge_survives_spark_side_relist_failure(
    client, api_server, spark, tmp_path, capsys, monkeypatch
):
    """ADVICE r11: a Spark-side exception inside the relist+delta block
    (e.g. AnalysisException scanning the landing zone) used to escape
    the KubeApiError-only handler and crash the whole bridge. It must
    now count as a per-target error, keep the old bookmark, and leave
    the loop alive for the other targets."""
    import sys

    sys.path.insert(0, JOBS_DIR)
    import run_watch_bridge

    kubeconfig = f"""
apiVersion: v1
kind: Config
current-context: fake
clusters: [{{name: fake, cluster: {{server: {api_server}}}}}]
users: [{{name: fake, user: {{token: {TOKEN}}}}}]
contexts: [{{name: fake, context: {{cluster: fake, user: fake}}}}]
"""
    (tmp_path / "kc.yaml").write_text(kubeconfig)
    targets = [{"group": "e2e.gkelabs.io", "version": "v1alpha1",
                "kind": "TestCRD", "plural": "testcrds"}]
    (tmp_path / "targets.json").write_text(json.dumps(targets))
    bookmark = tmp_path / "bm.json"
    bookmark.write_text(json.dumps(
        {"e2e.gkelabs.io/v1alpha1/testcrds": {"rv": "9"}}  # 410s immediately
    ))
    # the bridge imports relist_delta_rows inside main(), so patch the
    # defining module
    from kube_etl_spark.streaming import kubeapi as _kubeapi_mod

    def _boom(*a, **k):
        raise RuntimeError("spark-side boom")

    monkeypatch.setattr(_kubeapi_mod, "relist_delta_rows", _boom)
    run_watch_bridge.main([
        "--kubeconfig", str(tmp_path / "kc.yaml"),
        "--targets", str(tmp_path / "targets.json"),
        "--landing", str(tmp_path / "oplog"),
        "--snapshots", str(tmp_path / "snaps"),
        "--bookmark", str(bookmark),
        "--syncer-state", str(tmp_path / "state"),
        "--once",
    ])  # must NOT raise
    bm = json.loads(bookmark.read_text())
    entry = bm["e2e.gkelabs.io/v1alpha1/testcrds"]
    assert entry["errors"] == 1
    assert entry["rv"] == "9"  # bookmark kept -> next pass retries
    assert "RuntimeError: spark-side boom" in capsys.readouterr().err
