"""Nessie catalog client for Iceberg tables — pure stdlib.

Reference parity: `model/IcebergCommonConfig.scala:56-71` routes
``catalog.type: nessie`` to the iceberg-nessie NessieCatalog jar. That
integration follows the PUBLIC Nessie REST API v2
(projectnessie.org — the OpenAPI spec ships with every Nessie release):
an Iceberg table is an ``ICEBERG_TABLE`` content object stored under a
ContentKey on a named branch, carrying ``metadataLocation`` (the
current ``vN.metadata.json``); readers resolve the key at the branch
head, writers POST a commit with a PUT operation against the EXPECTED
head hash — optimistic concurrency by compare-and-swap on the branch
hash, HTTP 409 on a concurrent commit.

Endpoints used (API v2):
* ``GET  {base}/trees/{ref}``                    → branch head hash
* ``GET  {base}/trees/{ref}/contents/{key}``     → content at head
* ``POST {base}/trees/{branch}@{hash}/history/commit`` → CAS commit

Transport is stdlib urllib with optional bearer-token auth
(``catalog.token``); request construction is offline-testable and the
wire behavior is proven against `testing.LoopbackNessie` (enforces the
expected-hash CAS and the token).

Scale note: like the Glue/REST catalogs here, Nessie sees O(commits)
tiny JSON calls — table data never touches this path; readers resolve
``metadataLocation`` once and scan the filesystem/parquet directly.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request


class NessieError(RuntimeError):
    def __init__(self, status: int, body: str):
        super().__init__(f"nessie error {status}: {body[:300]}")
        self.status = status


class NessieCommitConflict(NessieError):
    """The branch head moved past the expected hash — another writer
    committed first; re-read the head and retry (Nessie's CAS
    contract)."""


class NessieCatalog:
    def __init__(self, uri: str, conf: dict | None = None):
        # uri is the API v2 base, e.g. http://host:19120/api/v2
        self.uri = uri.rstrip("/")
        self.conf = dict(conf or {})
        self.ref = self.conf.get("ref", "main")
        self.token = self.conf.get("token")

    # -- request plumbing ----------------------------------------------------

    def _call(self, method: str, path: str, body: dict | None = None) -> dict:
        data = json.dumps(body).encode() if body is not None else None
        headers = {"Accept": "application/json"}
        if data is not None:
            headers["Content-Type"] = "application/json"
        if self.token:
            headers["Authorization"] = f"Bearer {self.token}"
        req = urllib.request.Request(
            f"{self.uri}{path}", data=data, headers=headers, method=method
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as r:
                return json.loads(r.read().decode() or "{}")
        except urllib.error.HTTPError as e:
            text = e.read().decode("utf-8", "replace")
            if e.code == 409:
                raise NessieCommitConflict(e.code, text)
            raise NessieError(e.code, text)

    @staticmethod
    def _q(segment: str) -> str:
        """Percent-encode one URL path segment (r9 advisor): a branch
        or key name carrying URL-reserved characters (space, '#', '?',
        '/') must not mis-address or truncate the request path — the
        real Nessie client encodes every segment the same way."""
        return urllib.parse.quote(segment, safe="")

    @staticmethod
    def content_key(elements: list[str]) -> str:
        """ContentKey path form: elements joined with '.' (the API v2
        convention). Elements containing '.' would need the spec's
        escape form — refuse rather than mis-address a different key."""
        for e in elements:
            if "." in e or not e:
                raise ValueError(
                    f"nessie content-key element {e!r} needs the escaped "
                    "key form; use dot-free namespace/table names"
                )
        return ".".join(elements)

    # -- reads ----------------------------------------------------------------

    def branch_head(self, ref: str | None = None) -> str:
        out = self._call("GET", f"/trees/{self._q(ref or self.ref)}")
        return out["reference"]["hash"]

    def get_content(
        self, elements: list[str], ref: str | None = None
    ) -> dict | None:
        key = self.content_key(elements)
        try:
            out = self._call(
                "GET",
                f"/trees/{self._q(ref or self.ref)}/contents/{self._q(key)}",
            )
        except NessieError as e:
            if e.status == 404:
                return None
            raise
        return out.get("content")

    def metadata_location(self, namespace: str, table: str) -> str:
        c = self.get_content([namespace, table])
        if c is None or c.get("type") != "ICEBERG_TABLE":
            raise NessieError(
                404,
                f"no ICEBERG_TABLE content at {namespace}.{table} on "
                f"branch {self.ref}",
            )
        return c["metadataLocation"]

    def resolve(self, namespace: str, table: str):
        from flinkrunner_spark.iceberg import IcebergFsTable

        return IcebergFsTable.at_metadata(
            self.metadata_location(namespace, table)
        )

    # -- commits ---------------------------------------------------------------

    def commit_put(
        self,
        namespace: str,
        table: str,
        metadata_location: str,
        expected_hash: str,
        content_id: str | None = None,
        message: str = "commit iceberg metadata pointer",
    ) -> str:
        """One PUT operation committed against ``expected_hash`` — the
        CAS step. ``content_id`` must be the existing content's id when
        updating (Nessie rejects an update that pretends to be a new
        content object); omit it on first registration."""
        content: dict = {
            "type": "ICEBERG_TABLE",
            "metadataLocation": metadata_location,
        }
        if content_id:
            content["id"] = content_id
        out = self._call(
            "POST",
            f"/trees/{self._q(self.ref)}@{expected_hash}/history/commit",
            {
                "commitMeta": {"message": message},
                "operations": [
                    {
                        "type": "PUT",
                        "key": {"elements": [namespace, table]},
                        "content": content,
                    }
                ],
            },
        )
        return out["targetBranch"]["hash"]

    def publish(
        self, namespace: str, table: str, fs_table, md_before=None
    ) -> None:
        """PUT the table's current metadata file at the branch head. No
        content yet: a new ICEBERG_TABLE content. Otherwise the pointer
        advances (carrying the content id) when it is an older version
        of this table's own lineage (`IcebergFsTable.pointer_lag`); a
        newer or foreign pointer is a concurrent writer — raise so the
        caller re-reads and retries."""
        new = fs_table.metadata_file()
        current = self.get_content([namespace, table])
        content_id = None
        if current is not None:
            cur_loc = current.get("metadataLocation", "")
            lag = fs_table.pointer_lag(cur_loc)
            if lag is None:
                raise NessieCommitConflict(
                    409,
                    f"branch {self.ref} points {namespace}.{table} at "
                    f"{cur_loc!r} — not an older version of this table's "
                    "lineage; concurrent writer, re-read and retry",
                )
            if lag == 0:
                return  # already at this tip
            content_id = current.get("id")
        self.commit_put(
            namespace,
            table,
            new,
            self.branch_head(),
            content_id=content_id,
            message=f"publish {namespace}.{table} at {new}",
        )


def nessie_from_conf(conf: dict) -> NessieCatalog:
    """Build from the sink/source's ``catalog.*`` config keys."""
    if not conf.get("catalog.uri"):
        raise ValueError(
            "catalog.type nessie needs catalog.uri (the Nessie API v2 "
            "base, e.g. http://host:19120/api/v2)"
        )
    return NessieCatalog(
        conf["catalog.uri"],
        {
            "ref": conf.get("catalog.ref", "main"),
            "token": conf.get("catalog.token"),
        },
    )
