"""S3 object storage with native conditional-PUT concurrency control.

The engine's whole commit protocol rests on one storage primitive:
atomic create-if-not-exists of the versioned log file (reference
objectstorage/objectstorage.go:3-8; commit gate at
deltalakeclient/transactions.go:133-146). The reference left S3/minio
support as an unchecked TODO (reference README.md:30). Amazon S3 has
supported exactly this primitive natively since late 2024:
``PutObject`` with ``If-None-Match: *`` fails with HTTP 412
(PreconditionFailed) if the key already exists, and with HTTP 409
(ConditionalRequestConflict) when racing an in-flight conditional
write to the same key. Both map to :class:`ObjectExistsError`, so a
commit collision surfaces identically to the local-FS hard-link gate.

Listing: S3 ``ListObjectsV2`` returns keys in ascending UTF-8 binary
order, which satisfies the engine's ordered-listing contract for the
zero-padded ``_log_%020d`` names without any client-side sort (we sort
anyway, defensively — it's O(n log n) on names the replay already
holds in memory).

Spark integration: ``path_of`` returns ``s3a://bucket/prefix/name`` so
executors read Parquet objects straight from S3 through the Hadoop S3A
connector, and every Spark write (bulk ingest, COW rewrites, OPTIMIZE,
UPDATE, deletion-vector masks) stages in the bucket and publishes with
a server-side copy (:meth:`S3ObjectStorage.begin_staging`). Only the
row-buffer flush and small driver-side COW deletes, whose files the
driver itself writes, PUT data bytes from the driver. (The S3A jars
ship with real clusters; the tests have no S3 endpoint, so the class is
exercised against an injected fake client there — the metadata layer,
OCC semantics included, is storage-API complete either way.)

boto3 is not installed in this container; the import is deferred and a
pre-built client (real boto3, or a test double implementing
``put_object`` / ``get_object`` / ``list_objects_v2`` / ``delete_object``)
can be injected instead.
"""

from __future__ import annotations

from typing import Any, Optional

from delta_lake_experiment_spark.errors import ObjectExistsError
from delta_lake_experiment_spark.storage.objectstore import (
    BucketScanArea,
    ObjectStorage,
    StagingArea,
)

# HTTP statuses S3 returns for a failed conditional PUT.
_PRECONDITION_FAILED = 412  # key already exists
_CONDITIONAL_CONFLICT = 409  # concurrent conditional write in flight


class S3ObjectStorage(ObjectStorage):
    """Object storage over an S3 bucket using conditional PUT for OCC.

    Parameters
    ----------
    bucket:
        Target bucket name.
    prefix:
        Key prefix acting as the table-root "directory" (normalized to
        end with ``/`` when non-empty).
    client:
        A boto3 S3 client (or compatible double). When ``None``, boto3
        is imported lazily; environments without it get a clear
        ImportError at construction, not at first commit.
    scheme:
        URI scheme for :meth:`path_of` — ``s3a`` (Hadoop/Spark default),
        ``s3``, or any custom filesystem scheme registered with Spark.
    """

    def __init__(
        self,
        bucket: str,
        prefix: str = "",
        client: Optional[Any] = None,
        scheme: str = "s3a",
    ) -> None:
        if client is None:
            try:
                import boto3  # type: ignore[import-not-found]
            except ImportError as e:  # pragma: no cover - environment-dependent
                raise ImportError(
                    "S3ObjectStorage needs boto3 (or pass client=...)"
                ) from e
            client = boto3.client("s3")
        self.bucket = bucket
        self.prefix = prefix.strip("/") + "/" if prefix.strip("/") else ""
        self.client = client
        self.scheme = scheme

    # ------------------------------------------------------------------
    # ObjectStorage interface
    # ------------------------------------------------------------------

    def put_if_absent(self, name: str, data: bytes) -> None:
        try:
            self.client.put_object(
                Bucket=self.bucket,
                Key=self._key(name),
                Body=data,
                IfNoneMatch="*",
            )
        except Exception as e:
            if _http_status(e) in (_PRECONDITION_FAILED, _CONDITIONAL_CONFLICT):
                raise ObjectExistsError(name) from e
            raise

    def put(self, name: str, data: bytes) -> None:
        # unconditional PUT: advisory pointer writes only (the
        # _last_checkpoint hint) — commits stay conditional
        self.client.put_object(
            Bucket=self.bucket, Key=self._key(name), Body=data
        )

    def put_file_if_absent(self, name: str, src_path: str) -> None:
        # Single-request conditional upload of a file the DRIVER wrote
        # (the row-buffer flush and small driver-side COW deletes).
        # Spark-written objects never come through here: executors
        # write straight to S3 staging and the driver publishes via
        # server-side copy_object — see :meth:`begin_staging`.
        with open(src_path, "rb") as f:
            self.put_if_absent(name, f.read())

    # ------------------------------------------------------------------
    # executor-direct staging (Spark writes without driver data bytes)
    # ------------------------------------------------------------------

    def begin_staging(self) -> "S3RemoteStaging":
        """Open a staging area INSIDE the bucket: executors write
        Parquet to ``uri`` through the S3A connector, the driver then
        publishes each staged file with a server-side ``copy_object``
        (one metadata request, zero data bytes through the driver) and
        deletes the staged keys. Data-object uniqueness comes from the
        uuid4 destination names; commit atomicity stays with the log
        record's conditional PUT — the copy needs no condition of its
        own."""
        return S3RemoteStaging(self)

    def begin_bucket_scan_area(self) -> "S3BucketScanArea":
        """Bucket-scan area as a key prefix of server-side copies:
        ``scan_bucketed`` exposes each live data object under a
        bucket-suffixed name with ONE ``CopyObject`` metadata request —
        S3 moves the bytes internally, nothing flows through the driver
        or executors — and registers the external bucketed table over
        ``s3a://bucket/<prefix>bucketscan_<token>/``. The copies also
        pin the exact snapshot file set against a concurrent VACUUM
        (the local backend gets the same property from hard links).
        Single-request CopyObject covers objects up to 5 GB — above the
        engine's data-object sizing by orders of magnitude; a real
        deployment with larger objects would switch to multipart
        UploadPartCopy here."""
        return S3BucketScanArea(self)

    def staging_uri(self, token: str) -> str:
        return f"{self.scheme}://{self.bucket}/{self._staging_key_prefix(token)}"

    def _staging_key_prefix(self, token: str) -> str:
        return f"{self.prefix}.tmp/staging_{token}/"

    def list_prefix_ordered(
        self, prefix: str, start_after: Optional[str] = None
    ) -> list[str]:
        # native server-side anchor: the response starts past
        # start_after, so a checkpoint-anchored log listing costs
        # O(tail) pages instead of O(total commits)
        listed = self._list_keys(
            self._key(prefix),
            None if start_after is None else self._key(start_after),
        )
        names = [key[len(self.prefix):] for key, _ in listed]
        names.sort()  # S3 lists ascending already; defensive for doubles
        return names

    def _list_keys(
        self, key_prefix: str, start_after: Optional[str] = None
    ) -> list[tuple[str, int]]:
        """(full key, size) of every key under ``key_prefix``, past the
        ``start_after`` key when given — the one ListObjectsV2
        pagination loop. It returns only after the LAST page: callers
        that delete what they list must list fully first, because
        deleting mid-pagination shifts continuation cursors (both on
        real S3 and the test double) and skips keys."""
        out: list[tuple[str, int]] = []
        token: Optional[str] = None
        while True:
            kwargs: dict[str, Any] = {"Bucket": self.bucket, "Prefix": key_prefix}
            if start_after is not None:
                kwargs["StartAfter"] = start_after
            if token:
                kwargs["ContinuationToken"] = token
            resp = self.client.list_objects_v2(**kwargs)
            out.extend(
                (obj["Key"], int(obj.get("Size", 0)))
                for obj in resp.get("Contents", [])
            )
            if not resp.get("IsTruncated"):
                return out
            token = resp.get("NextContinuationToken")

    def read(self, name: str) -> bytes:
        return self._read_key(self._key(name))

    def _read_key(self, key: str) -> bytes:
        body = self.client.get_object(Bucket=self.bucket, Key=key)["Body"]
        return body.read() if hasattr(body, "read") else bytes(body)

    def path_of(self, name: str) -> str:
        return f"{self.scheme}://{self.bucket}/{self._key(name)}"

    def delete(self, name: str) -> None:
        self.client.delete_object(Bucket=self.bucket, Key=self._key(name))

    def exists(self, name: str) -> "bool | None":
        try:
            self.client.head_object(Bucket=self.bucket, Key=self._key(name))
            return True
        except AttributeError:
            return None  # client double without head_object: unknown
        except Exception:
            return False

    def mtime(self, name: str) -> Optional[float]:
        try:
            resp = self.client.head_object(Bucket=self.bucket, Key=self._key(name))
        except Exception:
            return None
        lm = resp.get("LastModified")
        return lm.timestamp() if hasattr(lm, "timestamp") else lm

    def size(self, name: str) -> Optional[int]:
        try:
            resp = self.client.head_object(Bucket=self.bucket, Key=self._key(name))
        except Exception:
            return None
        n = resp.get("ContentLength")
        return int(n) if n is not None else None

    # ------------------------------------------------------------------

    def _key(self, name: str) -> str:
        if name.startswith(".") or "/" in name:
            raise ValueError(f"invalid object name: {name!r}")
        return self.prefix + name


class S3RemoteStaging(StagingArea):
    """One staging area under ``<prefix>/.tmp/staging_<token>/``.

    Lifecycle: Spark writes Parquet to :attr:`uri` (executors talk to
    S3 directly via S3A) → :meth:`list_staged` names the staged parquet
    keys → :meth:`publish` server-side-copies one staged key to a final
    object key → :meth:`discard` deletes whatever staging keys remain.
    The driver only ever moves object *names*, never bytes.
    """

    def __init__(self, store: S3ObjectStorage) -> None:
        import uuid

        self.store = store
        self.token = uuid.uuid4().hex
        self.key_prefix = store._staging_key_prefix(self.token)
        self.uri = store.staging_uri(self.token)

    def list_staged(self) -> list[str]:
        """Staged parquet keys (ascending; excludes _SUCCESS etc.)."""
        return sorted(self.staged_sizes())

    def staged_sizes(self) -> dict:
        """key -> byte size for staged parquet objects (the S3 listing
        already carries sizes — no extra HEAD round-trips; cached so
        list_staged + staged_sizes cost ONE listing per ingest, the
        staging prefix being write-complete before either is called).
        Powers the per-object ``size`` stat of every staged write."""
        cached = getattr(self, "_sizes_cache", None)
        if cached is not None:
            return cached
        sizes = {
            key: size
            for key, size in self.store._list_keys(self.key_prefix)
            if key.endswith(".parquet")
        }
        self._sizes_cache = sizes
        return sizes

    def read(self, staged_key: str) -> bytes:
        return self.store._read_key(staged_key)

    def publish(self, staged_key: str, dest_name: str) -> None:
        self.store.client.copy_object(
            Bucket=self.store.bucket,
            Key=self.store._key(dest_name),
            CopySource={"Bucket": self.store.bucket, "Key": staged_key},
        )

    def discard(self) -> None:
        for key, _ in self.store._list_keys(self.key_prefix):
            self.store.client.delete_object(Bucket=self.store.bucket, Key=key)


class S3BucketScanArea(BucketScanArea):
    """Bucket-scan area under ``<prefix>bucketscan_<token>/``.

    The prefix is disjoint from every engine namespace: flat object
    names cannot contain ``/`` (``_key`` validates), VACUUM only lists
    the ``table_``/``dv_``/``bloomf_`` prefixes, and log replay lists
    ``_log_``/``_ckpt_`` — so scan copies are invisible to all of them
    and are reclaimed only by :meth:`drop` when a newer registration
    supersedes this one."""

    def __init__(self, store: S3ObjectStorage) -> None:
        import uuid

        self.store = store
        self.token = uuid.uuid4().hex
        self.key_prefix = f"{store.prefix}bucketscan_{self.token}/"
        self.uri = f"{store.scheme}://{store.bucket}/{self.key_prefix}"

    def link(self, src_name: str, filename: str) -> None:
        self.store.client.copy_object(
            Bucket=self.store.bucket,
            Key=self.key_prefix + filename,
            CopySource={
                "Bucket": self.store.bucket,
                "Key": self.store._key(src_name),
            },
        )

    def drop(self) -> None:
        for key, _ in self.store._list_keys(self.key_prefix):
            self.store.client.delete_object(Bucket=self.store.bucket, Key=key)


def _http_status(e: Exception) -> Optional[int]:
    """HTTP status from a botocore ClientError (or compatible double),
    else None. Kept duck-typed so tests run without botocore."""
    resp = getattr(e, "response", None)
    if isinstance(resp, dict):
        meta = resp.get("ResponseMetadata") or {}
        status = meta.get("HTTPStatusCode")
        if status is not None:
            return int(status)
        code = (resp.get("Error") or {}).get("Code")
        if code == "PreconditionFailed":
            return _PRECONDITION_FAILED
        if code == "ConditionalRequestConflict":
            return _CONDITIONAL_CONFLICT
    return None
