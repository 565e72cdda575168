"""Write-ahead log, byte-compatible with the reference WAL (src/wal.rs).

Binary format (all integers big-endian; src/wal.rs:28-77):

    segment file = b"LYNX1" header (wal.rs:15) + records...
    record =
        u64 namespace_len, namespace bytes
        u64 measurement_len, measurement bytes
        u64 value_len, value bytes
        u64 tag_count
        per tag:
            u8 type (0 = string, 1 = u64 number)
            u64 key_len, key bytes
            string: u64 value_len, value bytes
            number: u64 value
        i64 timestamp (microseconds)

Semantics preserved from the reference:

- rotation check happens BEFORE the write (wal.rs:196-198), so a
  segment may exceed max_segment_size by one record;
- segment size accounting includes the 5-byte header (wal.rs:236-240);
- flush (not fsync) after every record (wal.rs:245-250) — durability is
  to the OS page cache, deliberately matching the reference;
- replay walks every non-directory entry in the WAL dir, verifies the
  header, decodes records until EOF-on-record-boundary, and returns
  (highest segment id, all observed ids) (wal.rs:276-296,329-354);
- segment id comes from the filename stem, ``<id>.wal`` (wal.rs:312-317).
"""

from __future__ import annotations

import io
import struct
from pathlib import Path
from typing import BinaryIO, Callable

from lynx_spark.buffer import MemBuffer
from lynx_spark.model import WriteRequest

WAL_HEADER = b"LYNX1"
DEFAULT_MAX_SEGMENT_SIZE = 52428800  # 50 MiB (main.rs:27-28)

_U64 = struct.Struct(">Q")
_I64 = struct.Struct(">q")


def encode_write_request(req: WriteRequest) -> bytes:
    """Encode one record (wal.rs:28-77). Byte-identical to the r1
    BytesIO form (golden-byte tested); built as one join because the
    13+ BytesIO.write calls per record were ~40% of the WAL write
    path in the w0 profile."""
    parts = []
    for s in (req.namespace, req.measurement, req.value):
        data = s.encode("utf-8")
        parts.append(_U64.pack(len(data)))
        parts.append(data)
    parts.append(_U64.pack(len(req.metadata)))
    for key, value in req.metadata.items():
        is_num = isinstance(value, int) and not isinstance(value, bool)
        parts.append(b"\x01" if is_num else b"\x00")
        key_data = key.encode("utf-8")
        parts.append(_U64.pack(len(key_data)))
        parts.append(key_data)
        if is_num:
            parts.append(_U64.pack(value))
        else:
            value_data = str(value).encode("utf-8")
            parts.append(_U64.pack(len(value_data)))
            parts.append(value_data)
    parts.append(_I64.pack(req.timestamp))
    return b"".join(parts)


def _read_exact(r: BinaryIO, n: int) -> bytes:
    data = r.read(n)
    if len(data) != n:
        raise EOFError(f"expected {n} bytes, got {len(data)}")
    return data


def decode_write_request(r: BinaryIO) -> WriteRequest | None:
    """Decode one record; None on clean EOF at a record boundary
    (wal.rs:79-156). Mid-record EOF raises, like the reference's
    panics."""
    first = r.read(8)
    if len(first) == 0:
        return None  # EOF on the namespace length ends the segment
    if len(first) != 8:
        raise EOFError("truncated record: namespace length")
    (namespace_len,) = _U64.unpack(first)
    namespace = _read_exact(r, namespace_len).decode("utf-8")
    (measurement_len,) = _U64.unpack(_read_exact(r, 8))
    measurement = _read_exact(r, measurement_len).decode("utf-8")
    (value_len,) = _U64.unpack(_read_exact(r, 8))
    value = _read_exact(r, value_len).decode("utf-8")
    (tag_count,) = _U64.unpack(_read_exact(r, 8))
    metadata: dict[str, str | int] = {}
    for _ in range(tag_count):
        value_type = _read_exact(r, 1)[0]
        (key_len,) = _U64.unpack(_read_exact(r, 8))
        key = _read_exact(r, key_len).decode("utf-8")
        if value_type == 0:
            (tv_len,) = _U64.unpack(_read_exact(r, 8))
            metadata[key] = _read_exact(r, tv_len).decode("utf-8")
        elif value_type == 1:
            (metadata[key],) = _U64.unpack(_read_exact(r, 8))
        else:
            raise ValueError(f"invalid tag value type: {value_type}")
    (timestamp,) = _I64.unpack(_read_exact(r, 8))
    return WriteRequest(
        namespace=namespace,
        measurement=measurement,
        value=value,
        metadata=metadata,
        timestamp=timestamp,
    )


class Segment:
    """One active WAL file, ``<id>.wal`` (wal.rs:222-258)."""

    def __init__(self, segment_id: int, directory: Path) -> None:
        self.id = segment_id
        self.path = directory / f"{segment_id}.wal"
        # create_new semantics: fail if the file already exists
        self._file = open(self.path, "xb")
        self._file.write(WAL_HEADER)
        # flush immediately: the reference writes the header through an
        # unbuffered File (wal.rs:230-232), so it reaches the OS before
        # any record can. Without this, Python's buffered file held the
        # header back until the first record's flush, and a process
        # kill in that window left a 0-byte segment on disk (found live
        # by a SIGTERM-during-idle restart probe in r14).
        self._file.flush()
        self.size = len(WAL_HEADER)  # size accounting includes header

    def write(self, data: bytes) -> None:
        self._file.write(data)
        self._file.flush()  # flush per record, not fsync (wal.rs:245-250)
        self.size += len(data)

    def flush(self) -> None:
        self._file.flush()

    def close(self) -> None:
        self._file.close()


class Wal:
    """Size-rotated segmented WAL (wal.rs:173-219)."""

    def __init__(
        self,
        directory: str | Path,
        segment_id: int,
        max_segment_size: int = DEFAULT_MAX_SEGMENT_SIZE,
        closed_segments: list[int] | None = None,
    ) -> None:
        self.directory = Path(directory)
        self.max_segment_size = max_segment_size
        self.closed_segments: list[int] = list(closed_segments or [])
        self.active_segment = Segment(segment_id, self.directory)

    def write(self, req: WriteRequest) -> None:
        # check-before-write: the record that first pushes size over the
        # max still lands in the old segment (wal.rs:196-198)
        if self.active_segment.size > self.max_segment_size:
            self.rotate()
        self.active_segment.write(encode_write_request(req))

    def rotate(self) -> None:
        self.active_segment.flush()
        self.active_segment.close()
        self.closed_segments.append(self.active_segment.id)
        self.active_segment = Segment(self.active_segment.id + 1, self.directory)

    def close(self) -> None:
        self.active_segment.close()

    @staticmethod
    def replay(
        directory: str | Path,
        buffer: MemBuffer,
        skip: Callable[[int, WriteRequest], bool] | None = None,
    ) -> tuple[int, list[int]]:
        """Replay every segment in the directory into the buffer;
        returns (highest observed id, all observed ids)
        (wal.rs:276-296). Skips subdirectories (wal.rs:285-287), and
        the records for which ``skip(segment_id, record)`` is true (a
        durable tier that already holds them)."""
        directory = Path(directory)
        highest = 0
        observed: list[int] = []
        for entry in directory.iterdir():
            if entry.is_dir():
                continue
            segment_id = int(entry.stem)  # raises like the reference's parse
            observed.append(segment_id)
            highest = max(highest, segment_id)
            for req in read_segment(entry):
                if skip is None or not skip(segment_id, req):
                    buffer.insert(req)
        return highest, observed


def read_segment(path: Path):
    """Verify header then yield the segment's records in order
    (wal.rs:329-354).

    Documented deviation (crash recovery): a segment whose content is
    a strict PREFIX of the header (including a 0-byte file) is treated
    as empty and yields nothing. File-create and header-write are not
    atomic, so a process kill in that window leaves such a file; it
    can contain no records (records are only ever appended after the
    full header), and the reference's read_exact would instead fail
    the replay forever — bricking the server on every restart. Any
    other malformed header still raises, as in the reference."""
    with open(path, "rb") as f:
        header = f.read(len(WAL_HEADER))
        if header != WAL_HEADER:
            if WAL_HEADER.startswith(header):
                return  # torn create: empty segment, zero records lost
            raise ValueError(
                f"segment file must contain header ({WAL_HEADER.decode()})"
            )
        while True:
            req = decode_write_request(f)
            if req is None:
                break
            yield req
