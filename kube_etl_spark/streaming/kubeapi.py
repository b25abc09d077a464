"""Kube-apiserver HTTP client — discovery, paginated list, watch.

The reference talks to the cluster through client-go: discovery
(`ServerPreferredResources`, pkg/export/export.go:98-128), full
unpaginated `List` per resource type (export.go:130 — its documented
scalability cliff), and controller-runtime watches
(krmsyncer_controller.go:283-325). This module is the engine-side
equivalent over the PUBLIC Kubernetes REST API shapes (api-machinery's
documented endpoints; no client library):

  * ``discover()``      — GET /api, /api/v1, /apis, /apis/<g>/<v>:
    every served resource with its verbs, skipping subresources
    (``'/' in name``) and non-listable types exactly as export.go:119-124;
    per-group failures are tolerated and reported, mirroring the
    partial-discovery tolerance of export.go:100-109.
  * ``list_all()``      — GET .../<plural>?limit=N&continue=tok: the
    PAGINATED list the reference lacks (its one-shot List materializes
    the full result set in memory; SURVEY §3.1 boundary #2), yielding
    items page by page with the list resourceVersion for watch bootstrap.
  * ``watch()``         — GET ...?watch=1&resourceVersion=rv: the
    newline-delimited JSON event stream (ADDED/MODIFIED/DELETED/BOOKMARK),
    yielded as parsed events.
  * ``watch_to_landing()`` — drains watch events into the JSON landing
    zone run_syncer consumes (OBJ_SCHEMA rows: op/seq/GVK/key/payload),
    bridging a live cluster into the existing streaming sync pipeline.
  * ``snapshot_rows()`` / ``cluster_export()`` — discovery → list →
    the reference's export layout (`<ns>/<group>/<kind>/<name>.<ext>`,
    export.go:136-150) through the existing materialize_tree sink.

Auth/TLS come from streaming/kubeconfig.py's RestConfig: bearer/basic
headers, custom CA (ssl cadata), insecure-skip-verify, and inline
client certificates (materialized to 0600 tempfiles because the ssl
module loads cert chains from paths only). Tested against an
in-process fake apiserver (tests/test_kubeapi.py) — the network client
itself is environment-agnostic.
"""

from __future__ import annotations

import http.client
import json
import os
import ssl
import tempfile
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Iterator

from .kubeconfig import RestConfig

# the reference's remote discovery timeout (krmsyncer_controller.go:146)
DEFAULT_TIMEOUT_S = 10.0
# Watch reads get their OWN timeout budget: the server is allowed to
# stay silent for the full requested timeoutSeconds (plus transit
# margin) between events — applying the 10 s request timeout to body
# reads made any quiet 10 s window raise mid-iteration (ADVICE r10
# high: the continuous bridge crash-looped on every low-traffic
# target). When the caller requests no server-side timeout, cap reads
# at the budget below anyway so a silently-hung connection cannot
# block a drain forever (client-go's informers use a 5-10 min window).
WATCH_READ_MARGIN_S = 15.0
DEFAULT_WATCH_BUDGET_S = 300.0


class KubeApiError(RuntimeError):
    """HTTP/protocol failure talking to the apiserver."""


class WatchExpired(KubeApiError):
    """The requested resourceVersion is gone (HTTP 410 / in-stream
    ERROR Gone): the retained watch window was compacted past the
    bookmark and the consumer must RELIST — the exact contract
    q_watch_gap_relist audits and controller-runtime handles via
    ErrResourceExpired."""


class KubeApiClient:
    def __init__(self, config: RestConfig, timeout_s: float = DEFAULT_TIMEOUT_S):
        self.config = config
        self.timeout_s = timeout_s
        self._ctx = self._ssl_context(config)

    @staticmethod
    def _ssl_context(config: RestConfig) -> ssl.SSLContext | None:
        if not config.server.startswith("https"):
            return None
        ctx = ssl.create_default_context(
            cadata=config.ca_pem.decode() if config.ca_pem else None
        )
        if config.insecure_skip_tls_verify:
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
        pair = config.effective_client_cert_pair  # static, or exec-minted
        if pair:
            # ssl loads cert chains from files only; 0600 tempfiles are
            # the standard workaround (unlinked right after load)
            cf = kf = None
            try:
                with tempfile.NamedTemporaryFile(delete=False) as f:
                    cf = f.name
                    f.write(pair[0])
                with tempfile.NamedTemporaryFile(delete=False) as f:
                    kf = f.name
                    f.write(pair[1])
                os.chmod(cf, 0o600)
                os.chmod(kf, 0o600)
                ctx.load_cert_chain(cf, kf)
            finally:
                for p in (cf, kf):
                    if p:
                        os.unlink(p)
        return ctx

    def _request(
        self, path: str, params: dict | None = None, timeout_s: float | None = None
    ):
        url = self.config.server + path
        if params:
            url += "?" + urllib.parse.urlencode(params)
        for attempt in (0, 1):
            req = urllib.request.Request(url)
            auth = self.config.auth_header  # re-resolved per attempt
            if auth:
                req.add_header("Authorization", auth)
            req.add_header("Accept", "application/json")
            try:
                return urllib.request.urlopen(
                    req,
                    timeout=self.timeout_s if timeout_s is None else timeout_s,
                    context=self._ctx,
                )
            except urllib.error.HTTPError as ex:
                if (
                    ex.code == 401
                    and attempt == 0
                    and self.config.exec_plugin is not None
                    and not self.config.token
                ):
                    # the cached exec credential was revoked BEFORE its
                    # expirationTimestamp: client-go's exec transport
                    # invalidates the cache and re-execs the plugin for
                    # exactly one retry — without it every request 401s
                    # until the stale timestamp passes
                    self.config.exec_plugin.invalidate()
                    continue
                body = ex.read(512).decode("utf-8", "replace")
                raise KubeApiError(f"GET {path} -> HTTP {ex.code}: {body}") from ex
            except urllib.error.URLError as ex:
                raise KubeApiError(f"GET {path} failed: {ex.reason}") from ex

    def _get_json(self, path: str, params: dict | None = None) -> dict:
        with self._request(path, params) as resp:
            return json.loads(resp.read().decode("utf-8"))

    # -- discovery ---------------------------------------------------

    def discover(self) -> tuple[list[dict], list[str]]:
        """Every listable, non-subresource type the server advertises:
        [{group, version, kind, plural, namespaced}], plus the list of
        per-group errors tolerated along the way (export.go:100-109's
        ErrGroupDiscoveryFailed handling — partial discovery is a
        warning, not a failure). Group version choice mirrors
        ServerPreferredResources: the group's preferredVersion."""
        resources: list[dict] = []
        errors: list[str] = []

        def add_from(group: str, version: str, path: str) -> None:
            rl = self._get_json(path)
            for r in rl.get("resources", []):
                name = r.get("name", "")
                if "/" in name:  # subresource (export.go:124)
                    continue
                if "list" not in (r.get("verbs") or []):  # export.go:119
                    continue
                resources.append(
                    {
                        "group": group,
                        "version": version,
                        "kind": r.get("kind", ""),
                        "plural": name,
                        "namespaced": bool(r.get("namespaced")),
                    }
                )

        try:
            core = self._get_json("/api")
            for v in core.get("versions", []):
                add_from("", v, f"/api/{v}")
        except KubeApiError as ex:
            errors.append(str(ex))
        try:
            groups = self._get_json("/apis").get("groups", [])
        except KubeApiError as ex:
            errors.append(str(ex))
            groups = []
        for g in groups:
            gname = g.get("name", "")
            pv = (g.get("preferredVersion") or {}).get("version") or next(
                (v.get("version") for v in g.get("versions", [])), None
            )
            if not pv:
                continue
            try:
                add_from(gname, pv, f"/apis/{gname}/{pv}")
            except KubeApiError as ex:
                errors.append(str(ex))  # tolerate, keep going
        return resources, errors

    # -- list (paginated — the cliff export.go:130 has, removed) ------

    def _collection_path(self, group: str, version: str, plural: str) -> str:
        if group:
            return f"/apis/{group}/{version}/{plural}"
        return f"/api/{version}/{plural}"

    def list_all(
        self, group: str, version: str, plural: str, page_size: int = 500
    ) -> Iterator[tuple[list[dict], str]]:
        """Yield (items, resource_version) per page, following the
        `continue` token until exhausted. The resource_version of the
        FIRST page is the watch bootstrap point."""
        token = None
        while True:
            params: dict = {"limit": page_size}
            if token:
                params["continue"] = token
            body = self._get_json(
                self._collection_path(group, version, plural), params
            )
            meta = body.get("metadata") or {}
            yield body.get("items", []), meta.get("resourceVersion", "")
            token = meta.get("continue")
            if not token:
                return

    # -- watch ---------------------------------------------------------

    def watch(
        self,
        group: str,
        version: str,
        plural: str,
        resource_version: str | None = None,
        timeout_seconds: int | None = None,
    ) -> Iterator[dict]:
        """Yield parsed watch events ({"type": ..., "object": {...}})
        from the chunked newline-delimited JSON stream. The caller
        restarts from the last seen resourceVersion on disconnect — the
        same contract controller-runtime implements over client-go
        (and q_watch_gap_relist audits when the restart window is
        gone).

        allowWatchBookmarks is always requested: real apiservers emit
        BOOKMARK events only on opt-in (ADVICE r10 — without it quiet
        streams never advance the bookmark and 410/relist churn
        multiplies). The read timeout is the watch budget (requested
        timeoutSeconds, else DEFAULT_WATCH_BUDGET_S) plus margin — NOT
        the request-phase default — so an event gap inside the server's
        window is silence, not an error. A trailing line with no
        newline is a mid-line disconnect: the fragment is dropped if
        unparseable (the event re-delivers after a restart from the
        last bookmark, which the dropped fragment never advanced)."""
        params: dict = {"watch": "1", "allowWatchBookmarks": "true"}
        if resource_version:
            params["resourceVersion"] = resource_version
        if timeout_seconds:
            params["timeoutSeconds"] = timeout_seconds
        read_timeout = (
            float(timeout_seconds) if timeout_seconds else DEFAULT_WATCH_BUDGET_S
        ) + WATCH_READ_MARGIN_S
        with self._request(
            self._collection_path(group, version, plural),
            params,
            timeout_s=read_timeout,
        ) as resp:
            for raw in resp:
                complete = raw.endswith(b"\n")
                line = raw.strip()
                if not line:
                    continue
                try:
                    ev = json.loads(line.decode("utf-8"))
                except (UnicodeDecodeError, json.JSONDecodeError) as ex:
                    if not complete:  # truncated by a disconnect
                        return
                    raise KubeApiError(
                        f"malformed watch event line: {line[:200]!r}"
                    ) from ex
                yield ev


# -- bridges into the existing pipelines --------------------------------


def _obj_key(obj: dict) -> tuple[str, str, str]:
    meta = obj.get("metadata") or {}
    return (
        meta.get("namespace") or "",
        meta.get("name") or "",
        meta.get("resourceVersion") or "0",
    )


def rv_to_seq(rv, what: str = "object") -> int:
    """resourceVersion → the LWW merge seq. Kubernetes documents rv as
    an OPAQUE string; on real apiservers it is etcd's global revision
    (an integer), which is what makes max-seq LWW correct. On a server
    where it is NOT an integer, silently coercing to 0 would make every
    event lose the merge (ADVICE r10) — fail loudly instead, matching
    the repo's convention for unsupported forms (kubeconfig.py:18)."""
    try:
        return int(rv)
    except (TypeError, ValueError):
        raise KubeApiError(
            f"{what} has non-integer resourceVersion {rv!r}; this engine's "
            f"max-seq LWW merge requires etcd-style integer revisions — "
            f"a non-etcd apiserver needs a different sequencing source"
        ) from None


def event_to_oplog_row(ev: dict, target: dict) -> dict | None:
    """One watch event → one OBJ_SCHEMA row (op = delete for DELETED
    else upsert; seq = the object's resourceVersion — the apiserver's
    monotone version, exactly the CDC contract StateTable merges on).
    BOOKMARK events return None (they advance only the bookmark);
    ERROR Gone raises WatchExpired (the relist signal, which the
    apiserver can deliver IN-STREAM as {"type":"ERROR","object":
    {"code":410}} rather than as an HTTP status)."""
    etype = ev.get("type")
    if etype == "BOOKMARK":
        return None
    if etype == "ERROR":
        obj = ev.get("object") or {}
        if obj.get("code") == 410 or obj.get("reason") == "Expired":
            raise WatchExpired(str(obj.get("message") or "watch window expired"))
        raise KubeApiError(f"watch ERROR event: {obj}")
    obj = ev.get("object") or {}
    meta = obj.get("metadata") or {}
    gv = obj.get("apiVersion", target["version"])
    group, _, version = gv.rpartition("/")
    seq = rv_to_seq(
        meta.get("resourceVersion"),
        what=f"{etype} {obj.get('kind', target['kind'])} "
        f"{meta.get('namespace') or ''}/{meta.get('name') or ''}",
    )
    return {
        "seq": seq,
        "op": "delete" if etype == "DELETED" else "upsert",
        "group": group,
        "version": version or gv,
        "kind": obj.get("kind", target["kind"]),
        "namespace": meta.get("namespace") or "",
        "name": meta.get("name") or "",
        "labels": meta.get("labels") or {},
        "annotations": meta.get("annotations") or {},
        "spec": obj.get("spec"),
        "status": obj.get("status"),
    }


def _land_rows(rows: list[dict], out_dir: str) -> None:
    """Publish one op-log JSON file ATOMICALLY: written under a
    dot-prefixed name (Spark file sources ignore hidden files), then
    renamed into place — a consumer stream listing the landing zone
    mid-write must never observe a half-written file (adversarial
    review r11; the old mkstemp-in-place form was listable while
    still being written)."""
    os.makedirs(out_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(suffix=".json", prefix=".watch-", dir=out_dir)
    with os.fdopen(fd, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    final = os.path.join(out_dir, os.path.basename(tmp)[1:])
    os.rename(tmp, final)


def prune_committed_landing(checkpoint_dir: str, landing_dir: str) -> int:
    """Delete landing-zone files the consuming stream has COMMITTED —
    the retention valve for the landing zone's one-file-per-drain
    growth (ADVICE r11: relist_delta_rows scans the whole landing dir,
    so an unpruned zone makes every 410 relist cost grow with
    deployment age rather than unmerged-backlog size).

    Sound criterion: run_syncer consumes the zone as a file-source
    stream; the checkpoint's ``sources/0/<batchId>`` logs name each
    batch's files and ``commits/<batchId>`` appears only after
    foreachBatch RETURNED — i.e. after the merge published — so a file
    in a committed batch is fully represented in the state table and
    relist_delta_rows no longer needs it (its believed-live union reads
    state ∪ landing precisely because landing may hold
    landed-but-unmerged rows). Files NOT yet committed are kept.
    Seq-horizon pruning would be UNSOUND here: seqs are global
    resourceVersions, so state's max seq from one target says nothing
    about whether another target's file was merged.

    Deletes only paths that resolve inside ``landing_dir``; missing
    files (already pruned) are skipped. Returns files deleted. Run from
    maintenance (run_maintenance.py prune-landing) while the syncer is
    between availableNow runs or live — a file source never re-lists
    committed files, so deleting them never perturbs the stream."""
    from urllib.parse import unquote, urlparse

    commits_dir = os.path.join(checkpoint_dir, "commits")
    sources_dir = os.path.join(checkpoint_dir, "sources", "0")
    if not (os.path.isdir(commits_dir) and os.path.isdir(sources_dir)):
        return 0
    committed = {
        int(n) for n in os.listdir(commits_dir) if n.lstrip("-").isdigit()
    }
    if not committed:
        return 0
    max_commit = max(committed)
    root = os.path.realpath(landing_dir)
    deleted = 0
    for entry in os.listdir(sources_dir):
        stem = entry.split(".", 1)[0]  # "<batchId>" or "<batchId>.compact"
        if not stem.lstrip("-").isdigit() or int(stem) > max_commit:
            continue
        with open(os.path.join(sources_dir, entry)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # "v1" version header
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                # compact logs carry the full history incl. batches
                # past max_commit — honor each entry's own batchId
                if int(rec.get("batchId", -1)) > max_commit:
                    continue
                p = rec.get("path")
                if not p:
                    continue
                local = os.path.realpath(unquote(urlparse(p).path))
                if local.startswith(root + os.sep) and os.path.isfile(local):
                    os.remove(local)
                    deleted += 1
    return deleted


def drain_watch(
    client: KubeApiClient,
    target: dict,
    out_dir: str,
    resource_version: str | None = None,
    timeout_seconds: int | None = None,
    max_events: int | None = None,
) -> tuple[int, str | None]:
    """Drain ONE target's watch stream into the JSON landing zone;
    returns (rows landed, last seen resourceVersion — the next
    bookmark; BOOKMARK events advance it without landing rows). Raises
    WatchExpired when the bookmark predates the retained window (HTTP
    410 or the in-stream ERROR form) — the caller relists. A timed-out
    or dropped connection mid-stream is a NORMAL end of drain (ADVICE
    r10 high: watch connections end by timeout/reset by design — the
    already-drained rows land and the bookmark stands; the next pass
    resumes from it). One file per drain keeps the file-stream source's
    batch boundary aligned with the drain."""
    rows: list[dict] = []
    last_rv = None
    try:
        for ev in client.watch(
            target["group"], target["version"], target["plural"],
            resource_version=resource_version, timeout_seconds=timeout_seconds,
        ):
            rv = ((ev.get("object") or {}).get("metadata") or {}).get(
                "resourceVersion"
            )
            row = event_to_oplog_row(ev, target)  # raises WatchExpired on 410
            if rv:
                last_rv = rv
            if row is None:
                continue
            rows.append(row)
            if max_events is not None and len(rows) >= max_events:
                break
    except KubeApiError as ex:
        if isinstance(ex, WatchExpired):
            raise
        if "HTTP 410" in str(ex):
            raise WatchExpired(str(ex)) from ex
        raise
    except (TimeoutError, OSError, http.client.HTTPException):
        # quiet stream past the read budget / server closed the
        # connection mid-chunk: end of this drain, not an error
        pass
    finally:
        if rows:
            _land_rows(rows, out_dir)
    return len(rows), last_rv


def watch_to_landing(
    client: KubeApiClient,
    targets: list[dict],
    out_dir: str,
    max_events: int | None = None,
) -> int:
    """Drain every target's watch stream once into run_syncer's JSON
    landing zone (see drain_watch). Returns the total rows landed."""
    total = 0
    for t in targets:
        budget = None if max_events is None else max_events - total
        if budget is not None and budget <= 0:
            break
        n, _rv = drain_watch(client, t, out_dir, max_events=budget)
        total += n
    return total


# narrow projection of run_syncer's OBJ_SCHEMA — keys + merge seq only,
# for the relist-delta computation below (payload columns irrelevant)
_OPLOG_KEY_SCHEMA = (
    "seq long, op string, group string, version string, kind string,"
    " namespace string, name string"
)


def relist_delta_rows(
    spark,
    target: dict,
    objects: list[dict],
    list_rv: str,
    syncer_state: str,
    landing_dir: str | None = None,
) -> tuple[list[dict], int]:
    """A 410 relist → the op-log DELTA that converges the SYNCER's own
    state table (ADVICE r10: routing the relist only into a separate
    snapshot-sync state leaves the syncer's local state holding keys
    deleted during the compacted window FOREVER). Returns
    (op-log rows to land, number of delete rows).

    * every relisted object re-upserts at its own resourceVersion
      (idempotent against already-merged rows — max-seq LWW);
    * a DELETE row at seq = the relist's list resourceVersion is
      emitted for every key the pipeline currently believes live but
      the relist no longer contains. list_rv is the server's global
      revision at list time, so it outranks every event from the
      compacted window — including upserts already LANDED but not yet
      MERGED, which is why believed-live is computed over the union of
      the merged state table AND the landing zone's op-log rows (state
      alone would miss a key that was landed, never merged, and
      deleted inside the gap).

    The relist itself is control-plane-sized (driver-held, like
    relist_to_snapshot); the state/landing scan and the anti-join are
    distributed, and only the delta (the deletes) is collected.

    Retention (ADVICE r11): the landing scan reads EVERY file in the
    zone, so its cost tracks unpruned history, not backlog. The policy
    is checkpoint-committed pruning — ``prune_committed_landing``
    deletes files run_syncer's stream has committed (those rows are in
    the state table this function already unions), keeping the scan
    O(unmerged backlog)."""
    from pyspark.sql import functions as F

    from ..session import local_frame
    from .cdc import StateTable, latest_op

    key_cols = ["group", "version", "kind", "namespace", "name"]
    del_seq = rv_to_seq(list_rv, what=f"relist of {target['plural']}")
    upserts = [
        event_to_oplog_row({"type": "ADDED", "object": o}, target) for o in objects
    ]

    frames = []
    # merge-mode-blind read: the syncer may run with --field-merge, and
    # a plain (row-LWW) opener would be refused by the merge-mode
    # sidecar; this path only READS believed-live keys
    state = StateTable.open_read(
        spark, os.path.join(syncer_state, "local")
    ).read()
    if state is not None:
        frames.append(
            state.select("seq", F.lit("upsert").alias("op"), *key_cols)
        )
    if landing_dir and os.path.isdir(landing_dir) and os.listdir(landing_dir):
        frames.append(
            spark.read.schema(_OPLOG_KEY_SCHEMA).json(landing_dir).select(
                "seq", "op", *key_cols
            )
        )
    if not frames:
        return upserts, 0

    believed = frames[0]
    for f in frames[1:]:
        believed = believed.unionByName(f)
    live = (
        latest_op(believed, key_cols, ["seq"])
        .where(F.col("op") != "delete")
        .where(
            (F.col("group") == target["group"])
            & (F.col("version") == target["version"])
            & (F.col("kind") == target["kind"])
        )
        .select(*key_cols)
    )
    relisted = local_frame(
        spark,
        [
            (
                target["group"], target["version"], target["kind"],
                (o.get("metadata") or {}).get("namespace") or "",
                (o.get("metadata") or {}).get("name") or "",
            )
            for o in objects
        ],
        ", ".join(f"{c} string" for c in key_cols),
    )
    gone = live.join(relisted, key_cols, "left_anti").collect()  # delta-sized
    deletes = [
        {
            "seq": del_seq,
            "op": "delete",
            "group": r["group"],
            "version": r["version"],
            "kind": r["kind"],
            "namespace": r["namespace"],
            "name": r["name"],
            "labels": {},
            "annotations": {},
            "spec": None,
            "status": None,
        }
        for r in gone
    ]
    return upserts + deletes, len(deletes)


def snapshot_rows(
    client: KubeApiClient, resources: list[dict], page_size: int = 500
) -> Iterator[dict]:
    """Discovery output → every object of every listable type, as
    (group, version, kind, namespace, name, path, payload) rows with
    the reference's path derivation: namespace '' → '_cluster', group
    '' → 'core', path = ns/group/kind/name.json (export.go:136-150)."""
    for r in resources:
        for items, _rv in client.list_all(
            r["group"], r["version"], r["plural"], page_size=page_size
        ):
            for obj in items:
                ns, name, _ = _obj_key(obj)
                eff_ns = ns or "_cluster"
                eff_group = r["group"] or "core"
                yield {
                    "group": r["group"],
                    "version": r["version"],
                    "kind": r["kind"] or obj.get("kind", ""),
                    "namespace": ns,
                    "name": name,
                    "path": f"{eff_ns}/{eff_group}/{r['kind']}/{name}.json",
                    "payload": json.dumps(obj, sort_keys=True),
                }


def cluster_export(
    spark,
    client: KubeApiClient,
    out_root: str,
    archive: bool = False,
    serialization: str = "json",
    page_size: int = 500,
) -> dict:
    """The reference CLI's full pipeline against a live apiserver:
    discovery → paginated list of every listable type → one file per
    object at `<ns>/<group>/<kind>/<name>.<ext>` (export.go:64-168),
    optionally zipped (pkg/sink/zip.go). Control-plane exports are
    control-plane-sized, so rows land via the driver into a DataFrame
    and the existing materialize_tree sink; the 100 TB path remains the
    partitioned-dataset run_export."""
    from ..session import local_frame

    resources, errors = client.discover()
    rows = list(snapshot_rows(client, resources, page_size=page_size))
    schema = (
        "group string, version string, kind string, namespace string,"
        " name string, path string, payload string"
    )
    df = local_frame(spark, rows, schema) if rows else None
    n_files = 0
    if df is not None:
        if serialization == "yaml":
            from pyspark.sql import functions as F

            from ..plans.export_job import _json_payloads_to_yaml

            # strip ONLY the trailing '.json' (a blanket replace() would
            # rewrite every '.json' occurrence: an object literally
            # named 'config.json' must export as 'config.json.yaml' —
            # the reference's name+ext layout, export.go:150)
            df = df.withColumn(
                "path",
                F.expr("concat(substring(path, 1, length(path)-5), '.yaml')"),
            )
            df = df.mapInPandas(_json_payloads_to_yaml, df.schema)
        from ..plans.export_job import materialize_tree

        n_files = materialize_tree(df, out_root, archive=archive)
    return {
        "types_discovered": len(resources),
        "discovery_errors": errors,
        "objects": len(rows),
        "files": n_files,
    }
