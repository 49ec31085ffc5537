"""Log-store abstraction with the correctness-critical storage contract
(reference: store/store.go:16-27):

1. atomic visibility — readers never see partial files;
2. mutual exclusion — exactly one writer may create a given version file;
3. consistent listing after a write.

LocalStore gets mutual exclusion from the filesystem itself: each write
stages in its own uniquely named file and publishes it with os.link, which
fails with EEXIST for every writer but the first — across threads AND
processes, with no in-process lock (reference: store/local.go:73-96).
Cloud backends (S3 If-None-Match, GCS generation preconditions, Azure
ETag) implement the same ABC.
"""

from __future__ import annotations

import io
import os
import uuid
from abc import ABC, abstractmethod
from collections.abc import Iterable, Iterator
from dataclasses import dataclass


class FileAlreadyExistsError(FileExistsError):
    pass


@dataclass(frozen=True)
class FileMeta:
    path: str  # absolute path
    size: int
    modification_time: int  # epoch millis


class LogStore(ABC):
    """reference: store/store.go:28-92."""

    @abstractmethod
    def root(self) -> str: ...

    @abstractmethod
    def read(self, path: str) -> list[str]:
        """All lines of `path` (atomic visibility guaranteed)."""

    @abstractmethod
    def list_from(self, path: str) -> Iterator[FileMeta]:
        """Files in the parent of `path` whose name >= basename(path),
        in lexicographic (= version) order."""

    @abstractmethod
    def write(self, path: str, lines: Iterable[str], overwrite: bool = False) -> None:
        """Atomically create `path` with the given lines; raise
        FileAlreadyExistsError when it exists and overwrite=False."""

    @abstractmethod
    def exists(self, path: str) -> bool: ...

    # Binary object I/O: checkpoints are parquet, not JSON lines, and must
    # go through the SAME backend as the log (a cloud-URI table would
    # otherwise crash at the first checkpointInterval commit).
    @abstractmethod
    def read_bytes(self, path: str) -> bytes: ...

    @abstractmethod
    def write_bytes(self, path: str, data: bytes, overwrite: bool = True) -> None:
        """Atomically create `path` with raw bytes (single PUT on object
        stores; temp-file + rename locally)."""

    @abstractmethod
    def delete(self, path: str) -> None:
        """Remove one object/file; FileNotFoundError may pass silently."""

    # Ranged object I/O: lets checkpoint replay stream row-group batches
    # from cloud stores (one GET per read) instead of materializing a
    # multi-GB checkpoint as a single bytes object on the driver.  The
    # defaults fall back to a full read — correct, not streaming —
    # so custom stores keep working unmodified.
    def read_range(self, path: str, start: int, length: int) -> bytes:
        return self.read_bytes(path)[start : start + length]

    def size_of(self, path: str) -> int:
        return len(self.read_bytes(path))

    def write_stream(
        self, path: str, chunks: Iterable[bytes], overwrite: bool = True
    ) -> None:
        """Streaming variant of write_bytes for bulk data copies (DEEP
        CLONE): consume `chunks` without ever holding more than one chunk
        plus the SDK's own buffer in memory.  The base implementation
        buffers the whole object (correct for any custom store; bounded
        by one file per calling task) — LocalStore writes chunk-by-chunk
        and the cloud stores hand the stream to their SDK's multipart
        upload when the real SDK is present."""
        self.write_bytes(path, b"".join(chunks), overwrite)


class ChunkStream(io.RawIOBase):
    """Read-only file-like view over an iterator of byte chunks, for SDK
    streaming-upload APIs (boto3 upload_fileobj, GCS upload_from_file).

    read(n) returns EXACTLY n bytes until true end-of-stream (readinto
    fills across chunk boundaries): the SDKs treat a short read as EOF —
    a single-chunk readinto would silently truncate any upload whose
    transfer chunk size exceeds the producer's chunk size.  tell() is
    supported (GCS's resumable-upload initiator calls it); seeking is
    not — a mid-upload retry cannot rewind a stream."""

    def __init__(self, chunks: Iterable[bytes]):
        self._it = iter(chunks)
        self._buf = memoryview(b"")
        self._pos = 0

    def readable(self) -> bool:  # pragma: no cover - trivial
        return True

    def tell(self) -> int:
        return self._pos

    def readinto(self, out) -> int:
        out = memoryview(out)
        filled = 0
        while filled < len(out):
            if not len(self._buf):
                try:
                    self._buf = memoryview(next(self._it))
                except StopIteration:
                    break
                continue
            n = min(len(out) - filled, len(self._buf))
            out[filled : filled + n] = self._buf[:n]
            self._buf = self._buf[n:]
            filled += n
        self._pos += filled
        return filled


class LocalStore(LogStore):
    """Local-filesystem store (reference: store/local.go:73-96).

    Every write goes through `_publish`: the bytes land in a per-writer
    staging file `.<name>.<uuid4>.tmp` next to the target, are fsynced,
    and are published with os.link (create-if-absent: the one writer whose
    link succeeds wins the version, every other one gets
    FileAlreadyExistsError) or os.replace (overwrite).  No two writers
    ever share a staging file, so the winner is picked by the filesystem,
    across processes, not by an in-process mutex.  A crash between
    staging and unlink can leave a hidden `.…tmp` file behind; readers
    ignore it — the leading dot sorts before every log file name and
    matches neither the delta nor the checkpoint file pattern."""

    def __init__(self, root_dir: str):
        self._root = os.path.abspath(root_dir)

    def root(self) -> str:
        return self._root

    def read(self, path: str) -> list[str]:
        with open(path, encoding="utf-8") as f:
            return [line.rstrip("\n") for line in f if line.strip()]

    def list_from(self, path: str) -> Iterator[FileMeta]:
        parent = os.path.dirname(path)
        start = os.path.basename(path)
        if not os.path.isdir(parent):
            raise FileNotFoundError(f"no such directory: {parent}")
        for name in sorted(os.listdir(parent)):
            if name < start:
                continue
            full = os.path.join(parent, name)
            try:
                if os.path.isfile(full):
                    st = os.stat(full)
                    yield FileMeta(full, st.st_size, int(st.st_mtime * 1000))
            except FileNotFoundError:
                # a concurrent writer's staging file can vanish between
                # listdir and stat — it was never a log file; propagating
                # would masquerade as an empty/missing log.
                continue

    def _publish(self, path: str, chunks: Iterable[bytes], overwrite: bool) -> None:
        parent, name = os.path.split(path)
        os.makedirs(parent, exist_ok=True)
        tmp = os.path.join(parent, f".{name}.{uuid.uuid4().hex}.tmp")
        try:
            # "x": the name is this writer's alone; open() still applies
            # the umask to the file mode, unlike mkstemp's fixed 0600
            with open(tmp, "xb") as f:
                for c in chunks:
                    f.write(c)
                f.flush()
                os.fsync(f.fileno())
            if overwrite:
                os.replace(tmp, path)
            else:
                try:
                    os.link(tmp, path)  # EEXIST: another writer won
                except FileExistsError as e:
                    raise FileAlreadyExistsError(path) from e
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass  # os.replace already consumed it

    def write(self, path: str, lines: Iterable[str], overwrite: bool = False) -> None:
        data = "".join(line + "\n" for line in lines).encode("utf-8")
        self._publish(path, (data,), overwrite)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes, overwrite: bool = True) -> None:
        self._publish(path, (data,), overwrite)

    def delete(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def write_stream(
        self, path: str, chunks: Iterable[bytes], overwrite: bool = True
    ) -> None:
        self._publish(path, chunks, overwrite)

    def read_range(self, path: str, start: int, length: int) -> bytes:
        with open(path, "rb") as f:
            f.seek(start)
            return f.read(length)

    def size_of(self, path: str) -> int:
        return os.path.getsize(path)


def is_cloud_uri(path: str) -> bool:
    """True for object-store URIs (s3://, gs://, abfss://, ...) — anything
    whose data files Spark cannot reach through the local filesystem."""
    return "://" in path and not path.startswith("file://")


def normalize_table_uri(path: str) -> str:
    """Canonical table root: absolute path for local tables (file:// scheme
    stripped), the URI verbatim minus trailing slash for cloud tables —
    os.path.abspath would mangle a scheme into a relative path."""
    if is_cloud_uri(path):
        return path.rstrip("/")
    return os.path.abspath(path.removeprefix("file://"))


# URI-prefix -> LogStore bindings (longest prefix wins).  Lets tests and
# emulator runs route a table at a cloud URI through an injected client
# without monkey-patching scheme dispatch.
_registered: dict[str, LogStore] = {}


def register_store(prefix: str, store: LogStore | None) -> None:
    """Bind `prefix` (e.g. "s3://bucket/tables") to a store instance for
    store_for resolution; None unbinds."""
    if store is None:
        _registered.pop(prefix, None)
    else:
        _registered[prefix] = store


def has_registered_binding(path: str) -> bool:
    """True when `path` resolves through a register_store binding — those
    store instances live only in THIS process, so work that would run on
    Spark executors (e.g. the distributed DEEP CLONE copy) must stay on
    the driver for such paths."""
    return any(
        path == prefix or path.startswith(prefix.rstrip("/") + "/")
        for prefix in _registered
    )


def store_for(path: str) -> LogStore:
    """Scheme dispatch (reference: store/store.go:75-92).  file:// and bare
    paths -> LocalStore; s3/gs/azure go to cloud_stores (SDKs import-gated
    there).  Registered prefix bindings (register_store) take priority."""
    for prefix in sorted(_registered, key=len, reverse=True):
        # boundary-checked prefix match: a binding for .../tables/t must
        # not capture .../tables/t2
        if path == prefix or path.startswith(prefix.rstrip("/") + "/"):
            return _registered[prefix]
    if path.startswith("file://"):
        return LocalStore(path[len("file://"):])
    if "://" in path:
        scheme = path.split("://", 1)[0].lower()
        from delta_go_spark import cloud_stores

        if scheme in ("s3", "s3a", "s3n"):
            return cloud_stores.S3Store(path)
        if scheme == "gs":
            return cloud_stores.GCSStore(path)
        if scheme in ("abfss", "abfs", "wasbs", "wasb"):
            return cloud_stores.AzureBlobStore(path)
        raise NotImplementedError(f"log store for scheme {scheme}:// not implemented")
    return LocalStore(path)
