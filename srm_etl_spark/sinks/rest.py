"""REST-publisher protocol builders: Airtable-style batch upserts (K4/K6)
and CKAN dataset publication (K5).

The reference's writers are HTTP loops; the engine keeps the *protocol*
(batching, no-op-update skipping, payload shapes) as pure functions over
DataFrames, with the transport injected — the same seam its ingest twins use
(sources/connectors.py). Everything here is driver-side by design: staging
writes are 10²-10⁵ curated rows (reference batches of 10-50,
load/airtable.py:104-111), not the 100 TB path.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame


def batched(rows: Iterable[dict], size: int) -> Iterator[list[dict]]:
    buf: list[dict] = []
    for r in rows:
        buf.append(r)
        if len(buf) == size:
            yield buf
            buf = []
    if buf:
        yield buf


def upsert_payloads(
    df: DataFrame,
    key: str = "id",
    batch_size: int = 10,
    typecast: bool = True,
) -> Iterator[dict]:
    """K4/K6: batch upsert request bodies for an Airtable-shaped API.

    Rows with a non-null ``_record_id`` become updates, others creates —
    the caller prepares ``_record_id`` by joining against the fetched state
    and dropping unchanged rows (operators/upsert.py:staging_upsert), which
    reproduces ``update_if_exists_if_not_create`` + ``should_update_record``
    (load/airtable.py:150-214, :15-39)."""
    has_rid = "_record_id" in df.columns
    field_cols = [c for c in df.columns if c not in (key, "_record_id")]
    it = df.toLocalIterator()  # streams partitions; no full collect
    for batch in batched((r.asDict(recursive=True) for r in it), batch_size):
        updates, creates = [], []
        for row in batch:
            fields = {c: row[c] for c in field_cols}
            rid = row.get("_record_id") if has_rid else None
            if rid:
                updates.append({"id": rid, "fields": fields})
            else:
                creates.append({"fields": fields})
        if updates:
            yield {"method": "PATCH", "records": updates, "typecast": typecast}
        if creates:
            yield {"method": "POST", "records": creates, "typecast": typecast}


def ckan_dataset_payload(
    df: DataFrame,
    name: str,
    title: str | None = None,
    resource_format: str = "CSV",
) -> dict:
    """K5: CKAN package_create/patch body with a schema-bearing resource
    (reference srm_tools/stats.py:25-35, operators/backup/__init__.py:36-44)."""
    fields = [
        {"id": f.name, "type": f.dataType.simpleString()} for f in df.schema.fields
    ]
    return {
        "name": name,
        "title": title or name,
        "resources": [
            {"name": name, "format": resource_format, "schema": {"fields": fields}}
        ],
    }


def ckan_backup_package(
    resources: dict[str, DataFrame],
    name: str = "backup",
    title: str = "Manual Input Backup",
    resource_format: str = "CSV",
) -> dict:
    """The backup operator's combined package (reference
    operators/backup/__init__.py:33-44): one resource per backed-up table
    (each previously dumped to its own datapackage), re-packaged under
    ``update_package(title='Manual Input Backup', name='backup')`` and sent
    through dump_to_ckan. Resource order follows the input dict (the
    reference's TABLES_TO_BACK_UP order)."""
    return {
        "name": name,
        "title": title,
        "resources": [
            {
                "name": rname,
                "path": f"{rname}.csv",
                "format": resource_format,
                "schema": {
                    "fields": [
                        {"id": f.name, "type": f.dataType.simpleString()}
                        for f in df.schema.fields
                    ]
                },
            }
            for rname, df in resources.items()
        ],
    }


def mapbox_upload_tileset(
    fetch: Callable[[str, dict], dict],
    put_object: Callable[[dict, str], None],
    filename: str,
    tileset: str,
    name: str,
    access_token: str = "TOKEN",
    max_polls: int = 60,
    sleep: Callable[[float], None] | None = None,
) -> dict:
    """K7: the Mapbox tileset-upload PROTOCOL
    (reference operators/derive/to_mapbox.py:23-66) with transport injected:

    1. GET temporary S3 credentials (``uploads/v1/.../credentials``);
    2. stage the tile file to the returned bucket/key;
    3. POST ``uploads/v1`` with {tileset, url, name} — any ``error`` in the
       response is fatal (the reference's assert);
    4. poll the upload status until ``complete`` (again failing on any
       ``error``), bounded here by ``max_polls`` instead of the reference's
       unbounded loop.

    The tippecanoe mbtiles build stays out of engine scope (an external C
    binary; its INPUT — the GeoJSON feature file — is produced by
    sinks/files.py:write_geojson, q42/q121). Returns the completed status
    payload. ``fetch(url, params_or_json)`` and ``put_object(creds, path)``
    are the injected transports, same seam as the ingest pagers."""
    auth = {"access_token": access_token}
    creds = fetch("uploads/v1/credentials", auth)
    for k in ("accessKeyId", "secretAccessKey", "sessionToken", "bucket", "key", "url"):
        if k not in creds:
            raise ValueError(f"mapbox credentials response missing {k!r}")
    put_object(creds, filename)
    upload = fetch(
        "uploads/v1", {**auth, "json": {"tileset": tileset, "url": creds["url"], "name": name}}
    )
    if upload.get("error"):
        raise RuntimeError(f"mapbox upload create failed: {upload['error']}")
    for _ in range(max_polls):
        status = fetch(f"uploads/v1/{upload['id']}", auth)
        if status.get("error"):
            raise RuntimeError(f"mapbox upload failed: {status['error']}")
        if status.get("complete"):
            return status
        if sleep is not None:
            sleep(10)
    raise RuntimeError(f"mapbox upload {upload['id']} not complete after {max_polls} polls")


def github_backup_push(
    fetch: Callable[[str], tuple[int, dict]],
    put: Callable[[str, dict], int],
    content: str,
    *,
    api_url: str = "https://api.github.com/repos/OWNER/REPO/contents/LAST_PUSH_FROM_ETL.txt",
    branch: str = "backup-request",
    message: str = "Automated commit from ETL process",
) -> bool:
    """The github_backup operator's contents-API protocol (reference
    operators/github_backup/__init__.py:26-66) with transport injected:

    1. GET the file ref on ``branch`` — 200 yields the blob ``sha`` (an
       update must carry it), any other status means create-new;
    2. PUT {message, content: base64(payload), branch} (+``sha`` when
       updating); 200/201 is success.

    ``fetch(url) -> (status, body)`` and ``put(url, payload) -> status``
    are the injected transports (requests in production). The timestamp
    payload itself is caller-supplied — the reference stamps
    ``datetime.now(UTC).isoformat()``. Returns True on success."""
    import base64  # noqa: PLC0415

    status, body = fetch(f"{api_url}?ref={branch}")
    sha = body.get("sha") if status == 200 else None
    payload = {
        "message": message,
        "content": base64.b64encode(content.encode()).decode(),
        "branch": branch,
    }
    if sha:
        payload["sha"] = sha
    return put(api_url, payload) in (200, 201)
