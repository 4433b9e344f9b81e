"""Iceberg REST catalog client — plain JSON/HTTP over urllib, no jars.

Reference parity: `model/IcebergCommonConfig.scala:14-78` routes
``catalog.type = iceberg`` to ``org.apache.iceberg.rest.RESTCatalog``
(and the jar does the HTTP). The REST Catalog API is a published
OpenAPI spec (``rest-catalog-open-api.yaml`` in apache/iceberg), so the
same pattern as `util/aws_signer.py` applies: construct every request
pure-Python (offline-testable), execute over urllib gated on a
configured ``uri``.

The client fronts the pure-Python filesystem tables in `iceberg.py`
and is built by `iceberg.catalog_from_conf`: ``resolve`` opens the
table at the catalog's ``metadata-location`` as an
:class:`~flinkrunner_spark.iceberg.IcebergFsTable` (local paths,
``warehouse.mapping`` mounts, or an ``s3://`` mirror through the
jar-free S3 FileIO); ``publish`` registers a filesystem table on first
publish and later pushes an add-snapshot/set-snapshot-ref update with
optimistic requirements, the spec's commit shape.

`integration/docker-compose.yml` carries a lakekeeper recipe for the
real-server path; tests/test_iceberg_rest.py drives the full flow
against a scripted in-process HTTP server.
"""

from __future__ import annotations

import json
import os
from urllib.parse import quote, urlencode

# multi-level namespaces join with the 0x1F unit separator in URL paths
# (rest-catalog-open-api.yaml, `namespace` path parameter)
NS_SEPARATOR = "\x1f"


def ns_path(namespace: list[str] | str) -> str:
    if isinstance(namespace, str):
        namespace = namespace.split(".")
    return quote(NS_SEPARATOR.join(namespace), safe="")


class RestCatalogError(RuntimeError):
    pass


class RestCatalog:
    """Request construction + execution for the Iceberg REST catalog
    API. Every ``*_request`` method is pure (method, path, body) —
    unit-tested without a server; ``_call`` executes against the
    configured ``uri``."""

    def __init__(self, uri: str, conf: dict | None = None):
        if not uri:
            raise RestCatalogError(
                "iceberg REST catalog needs a configured uri"
            )
        self.uri = uri.rstrip("/")
        self.conf = dict(conf or {})
        self.prefix = self.conf.get("prefix", "")
        self._token: str | None = self.conf.get("token")

    # -- request builders (pure) -------------------------------------------

    def _p(self, rest: str) -> str:
        base = f"/v1/{self.prefix}" if self.prefix else "/v1"
        return f"{base}/{rest}"

    def config_request(self) -> tuple[str, str, bytes | None]:
        q = ""
        wh = self.conf.get("warehouse")
        if wh:
            q = "?" + urlencode({"warehouse": wh})
        return "GET", f"/v1/config{q}", None

    def oauth_token_request(self) -> tuple[str, str, bytes]:
        """client-credentials grant from ``credential`` =
        "client_id:client_secret" (the spec's /v1/oauth2/tokens)."""
        cred = self.conf.get("credential", "")
        cid, _, secret = cred.partition(":")
        form = {
            "grant_type": "client_credentials",
            "client_id": cid,
            "client_secret": secret,
            "scope": self.conf.get("scope", "catalog"),
        }
        return "POST", "/v1/oauth2/tokens", urlencode(form).encode()

    def list_namespaces_request(self):
        return "GET", self._p("namespaces"), None

    def create_namespace_request(self, namespace: list[str] | str):
        ns = namespace.split(".") if isinstance(namespace, str) else namespace
        body = json.dumps({"namespace": ns, "properties": {}}).encode()
        return "POST", self._p("namespaces"), body

    def list_tables_request(self, namespace):
        return "GET", self._p(f"namespaces/{ns_path(namespace)}/tables"), None

    def load_table_request(self, namespace, table: str):
        return (
            "GET",
            self._p(f"namespaces/{ns_path(namespace)}/tables/{quote(table)}"),
            None,
        )

    def create_table_request(
        self,
        namespace,
        table: str,
        spark_schema,
        location: str,
        partition_by: list[str] | None = None,
    ):
        from flinkrunner_spark import iceberg_transforms as T
        from flinkrunner_spark.iceberg import iceberg_schema_from_spark

        ice_schema, _last = iceberg_schema_from_spark(spark_schema)
        by_name = {f["name"]: f for f in ice_schema["fields"]}
        spec_fields = []
        for i, entry in enumerate(partition_by or []):
            # full transform set, same entry forms as IcebergFsTable
            # (bare column / "day(ts)" calls / {column, transform})
            pt = T.parse_spec_entry(entry)
            spec_fields.append({
                "name": T.field_name(pt),
                "transform": pt.transform,
                "source-id": by_name[pt.column]["id"],
                "field-id": 1000 + i,
            })
        body = {
            "name": table,
            "location": location,
            "schema": ice_schema,
            "partition-spec": {"spec-id": 0, "fields": spec_fields},
            "write-order": None,
            "stage-create": False,
            "properties": {"write.format.default": "parquet"},
        }
        return (
            "POST",
            self._p(f"namespaces/{ns_path(namespace)}/tables"),
            json.dumps(body).encode(),
        )

    def register_table_request(
        self, namespace, table: str, metadata_location: str
    ):
        body = json.dumps(
            {"name": table, "metadata-location": metadata_location}
        ).encode()
        return (
            "POST",
            self._p(f"namespaces/{ns_path(namespace)}/register"),
            body,
        )

    def commit_table_request(
        self,
        namespace,
        table: str,
        requirements: list[dict],
        updates: list[dict],
    ):
        ns = namespace.split(".") if isinstance(namespace, str) else namespace
        body = json.dumps({
            "identifier": {"namespace": ns, "name": table},
            "requirements": requirements,
            "updates": updates,
        }).encode()
        return (
            "POST",
            self._p(f"namespaces/{ns_path(namespace)}/tables/{quote(table)}"),
            body,
        )

    def append_commit_payload(
        self, md_before: dict, md_after: dict
    ) -> tuple[list[dict], list[dict]]:
        """(requirements, updates) for publishing the snapshots a
        filesystem-table write added: optimistic-concurrency asserts on
        table uuid + main-ref tip, then add-snapshot per new snapshot
        and a set-snapshot-ref moving main — the spec's commit shape."""
        before_ids = {s["snapshot-id"] for s in md_before.get("snapshots", [])}
        new_snaps = [
            s
            for s in md_after.get("snapshots", [])
            if s["snapshot-id"] not in before_ids
        ]
        if not new_snaps:
            raise RestCatalogError("no new snapshots to commit")
        requirements: list[dict] = [
            {"type": "assert-table-uuid", "uuid": md_after["table-uuid"]}
        ]
        prior_tip = md_before.get("current-snapshot-id", -1)
        if prior_tip and prior_tip != -1:
            requirements.append({
                "type": "assert-ref-snapshot-id",
                "ref": "main",
                "snapshot-id": prior_tip,
            })
        updates: list[dict] = [
            {"action": "add-snapshot", "snapshot": s} for s in new_snaps
        ]
        updates.append({
            "action": "set-snapshot-ref",
            "ref-name": "main",
            "type": "branch",
            "snapshot-id": md_after["current-snapshot-id"],
        })
        return requirements, updates

    # -- execution ----------------------------------------------------------

    def _headers(self) -> dict:
        h = {"Content-Type": "application/json"}
        if self._token:
            h["Authorization"] = f"Bearer {self._token}"
        return h

    def _call(self, method: str, path: str, body: bytes | None) -> dict:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            self.uri + path, data=body, headers=self._headers(),
            method=method,
        )
        if method == "POST" and path == "/v1/oauth2/tokens":
            req.remove_header("Content-type")
            req.add_header(
                "Content-Type", "application/x-www-form-urlencoded"
            )
        try:
            with urllib.request.urlopen(req, timeout=30) as r:
                raw = r.read()
        except urllib.error.HTTPError as e:
            detail = e.read().decode("utf-8", "replace")[:500]
            raise RestCatalogError(
                f"{method} {path} -> HTTP {e.code}: {detail}"
            ) from e
        return json.loads(raw) if raw else {}

    def authenticate(self):
        """Exchange ``credential`` for a bearer token when configured;
        explicit ``token`` wins (spec precedence)."""
        if self._token or not self.conf.get("credential"):
            return self
        resp = self._call(*self.oauth_token_request())
        self._token = resp["access_token"]
        return self

    # -- high-level flows over filesystem tables ----------------------------

    def create_namespace(self, namespace):
        try:
            return self._call(*self.create_namespace_request(namespace))
        except RestCatalogError as e:
            if "409" in str(e):  # AlreadyExists — idempotent create
                return {}
            raise

    def load_table(self, namespace, table: str) -> dict:
        return self._call(*self.load_table_request(namespace, table))

    def _local_location(self, loc: str) -> str:
        """Catalog location → locally readable path. A configurable
        ``warehouse.mapping`` ({location_prefix: mounted_path}, longest
        prefix wins) lets catalog-resolved tables live under ANY mounted
        root — e.g. an object-store warehouse exposed through a fuse/NFS
        mount, or a test warehouse relocated per run (r6 verdict #8).
        Unmapped remote schemes still refuse honestly: guessing a path
        would read the wrong table or none."""
        mapping = self.conf.get("warehouse.mapping") or {}
        for prefix in sorted(mapping, key=len, reverse=True):
            if loc.startswith(prefix):
                loc = mapping[prefix] + loc[len(prefix):]
                break
        if loc.startswith("file://"):
            return loc[len("file://"):]
        if loc.startswith("/"):
            return loc
        raise RestCatalogError(
            f"table location {loc!r} is not a locally reachable "
            "filesystem path; map its prefix to a mounted root via the "
            "catalog's warehouse.mapping conf, configure the jar-free "
            "S3 FileIO for s3:// locations (s3.endpoint + credentials "
            "in the catalog conf), or use the iceberg runtime jar + a "
            "FileIO for that scheme"
        )

    def _s3_client(self):
        """Jar-free S3 client from the catalog conf (s3.endpoint +
        credentials), or None when object-store access is unconfigured."""
        if not self.conf.get("s3.endpoint"):
            return None
        from flinkrunner_spark.util.s3 import S3Client

        return S3Client(
            self.conf["s3.endpoint"],
            region=self.conf.get("s3.region", "us-east-1"),
            access_key=self.conf.get("s3.access.key.id", ""),
            secret_key=self.conf.get("s3.secret.access.key", ""),
            session_token=self.conf.get("s3.session.token"),
        )

    def resolve(self, namespace, table: str):
        """Resolve through the catalog, open as a filesystem table.

        ``s3://`` locations resolve through the jar-free S3 FileIO when
        the catalog conf carries ``s3.endpoint`` + credentials: the
        table mirrors into ``s3.cache.dir`` (default: a deterministic
        per-location dir under the system temp root) under the
        ``s3.max.bytes`` budget and opens READ-ONLY with path mapping
        (`s3_fileio.open_s3_table`). Without s3 conf, the
        warehouse.mapping / refusal behavior is unchanged."""
        from flinkrunner_spark.iceberg import IcebergFsTable

        resp = self.load_table(namespace, table)
        md = resp.get("metadata") or {}
        loc = md.get("location") or resp.get("metadata-location", "")
        if str(loc).startswith("s3://"):
            client = self._s3_client()
            if client is not None:
                import hashlib
                import tempfile

                from flinkrunner_spark import s3_fileio

                cache = self.conf.get("s3.cache.dir") or os.path.join(
                    tempfile.gettempdir(),
                    "iceberg-s3-cache",
                    hashlib.md5(loc.encode()).hexdigest()[:16],
                )
                kw = {}
                if self.conf.get("s3.max.bytes"):
                    kw["max_bytes"] = int(self.conf["s3.max.bytes"])
                return s3_fileio.open_s3_table(loc, client, cache, **kw)
        return IcebergFsTable(self._local_location(loc))

    def publish(self, namespace, table: str, fs_table, md_before=None):
        """Publish a filesystem table's write. When the catalog answers
        404 for the table, create the namespace and register the current
        metadata file; otherwise push the snapshots the write added
        since ``md_before`` as one add-snapshot/set-snapshot-ref commit
        asserted on ``md_before``'s main tip (`append_commit_payload`)."""
        try:
            self.load_table(namespace, table)
        except RestCatalogError as e:
            if "HTTP 404" not in str(e):
                raise
            self.create_namespace(namespace)
            self._call(*self.register_table_request(
                namespace, table, fs_table.metadata_file()
            ))
            return
        try:
            reqs, ups = self.append_commit_payload(
                md_before or {}, fs_table.metadata()
            )
        except RestCatalogError:  # no new snapshots: nothing to publish
            return
        self._call(*self.commit_table_request(namespace, table, reqs, ups))
