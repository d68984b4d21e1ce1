"""PMTiles v3 range-read tile source — the serving-side counterpart of
``operators/mvt.PMTilesWriter``.

The reference's production read path is exactly this: the frontend
fetches tiles straight out of the ``.pmtiles`` artifact with HTTP range
requests against CloudFront (``frontend/src/components/MapView.tsx:
139-167`` — the pmtiles JS client does header read, directory reads,
then one ranged GET per tile). This reader gives ``server.py`` the same
semantics over the engine's own archive:

* **Bounded reads, never the whole file.** Every access is a
  seek+read of an explicit ``(offset, length)`` window — the open is a
  single prefetch of the first 16 KiB (the spec guarantees header +
  root directory fit there when the writer's ``MAX_ROOT_BYTES`` holds;
  if a root ever exceeds the prefetch we fall back to one more ranged
  read). A planet-scale multi-TB archive costs the same per request as
  a toy one: O(1) directory hops + one data read.
* **Leaf directories cache** (keyed by offset, LRU-bounded) so hot
  regions don't re-read their directory on every tile.
* **Spec-complete lookup**: Hilbert tile id, root->leaf indirection
  (``run_length == 0`` entries), run-length coalesced entries (the
  dedup runs the writer emits for identical/empty tiles), gzip
  handling for both internal (directories/metadata) and tile
  compression.

Deliberately independent of ``tools/mvt_decode.py`` (that module is
the *test-side* decoder kept free of engine imports so golden tests
stay independent); the Hilbert id however is imported from the writer
module so reader and writer can never disagree on addressing — the
cross-implementation parity is pinned by test_mvt against the tools
decoder's own from-spec id.
"""

from __future__ import annotations

import gzip
import json
import struct
import zlib
from bisect import bisect_right
from collections import OrderedDict

from ..operators.mvt import hilbert_tile_id

_HEADER_LEN = 127
_PREFETCH = 16384  # spec: header + root directory live in the first 16 KiB


def _gunzip(raw: bytes) -> bytes:
    """gzip-decompress untrusted archive bytes. A truncated or corrupt
    stream raises ``ValueError`` — the reader's one refusal type —
    instead of ``EOFError`` / ``zlib.error`` / ``BadGzipFile``."""
    try:
        return gzip.decompress(raw)
    except (EOFError, zlib.error, gzip.BadGzipFile) as e:
        raise ValueError(f"corrupt gzip data in PMTiles archive: {e}") from e


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = result = 0
    while True:
        if pos >= len(buf):
            # truncated/malformed untrusted archive: clean error, never
            # an uncaught IndexError (codec-suite rule)
            raise ValueError("truncated varint in PMTiles directory")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _parse_directory(buf: bytes):
    """-> (tile_ids, offsets, lengths, run_lengths) column lists.

    Spec layout: entry count, then delta-encoded tile ids, then run
    lengths, then lengths, then offsets (0 == previous offset+length).
    """
    pos = 0
    n, pos = _read_varint(buf, pos)
    tids, runs, lens, offs = [], [], [], []
    last = 0
    for _ in range(n):
        d, pos = _read_varint(buf, pos)
        last += d
        tids.append(last)
    for _ in range(n):
        v, pos = _read_varint(buf, pos)
        runs.append(v)
    for _ in range(n):
        v, pos = _read_varint(buf, pos)
        lens.append(v)
    for i in range(n):
        v, pos = _read_varint(buf, pos)
        if v == 0 and i == 0:
            # "offset 0 == previous offset+length" has no previous
            # entry to refer to — malformed archive, clean rejection
            raise ValueError("first PMTiles directory entry has offset 0")
        offs.append(offs[i - 1] + lens[i - 1] if v == 0 else v - 1)
    return tids, offs, lens, runs


class PMTilesReader:
    """Serve tiles from a PMTiles v3 archive with bounded range reads.

    ``get(z, x, y)`` returns the (decompressed) tile payload or ``None``
    for an unaddressed tile. Thread-safe for the stdlib ThreadingHTTP
    server's concurrent handlers (every read opens its own window via
    ``pread``-style seek on a per-call duplicated offset is unnecessary:
    we guard the shared handle with a lock — directory hits skip it).
    """

    def __init__(self, path: str, max_leaf_cache: int = 64):
        import threading

        self.path = path
        self._fh = open(path, "rb")
        self._lock = threading.Lock()
        self._leaf_cache: OrderedDict[int, tuple] = OrderedDict()
        self._max_leaf_cache = max_leaf_cache

        head = self._fh.read(_PREFETCH)
        if head[:8] != b"PMTiles\x03" or len(head) < _HEADER_LEN:
            raise ValueError(f"{path}: not a PMTiles v3 archive")
        (self._root_off, self._root_len, self._meta_off, self._meta_len,
         self._leaf_off, self._leaf_len, self._data_off, self._data_len,
         self.n_addressed, self.n_entries, self.n_contents) = struct.unpack(
            "<11Q", head[8:96])
        self._clustered, self._internal_comp, self._tile_comp, self.tile_type = head[96:100]
        self.min_zoom, self.max_zoom = head[100], head[101]
        self.bounds = tuple(v / 1e7 for v in struct.unpack("<iiii", head[102:118]))

        if self._root_off + self._root_len <= len(head):
            raw = head[self._root_off:self._root_off + self._root_len]
        else:  # oversized root: one more bounded read
            raw = self._read(self._root_off, self._root_len)
        self._root = _parse_directory(self._inflate(raw))

    # -- bounded IO -----------------------------------------------------
    def _read(self, off: int, ln: int) -> bytes:
        with self._lock:
            self._fh.seek(off)
            buf = self._fh.read(ln)
        if len(buf) != ln:  # truncated archive: never hand out a short read
            raise ValueError(f"{self.path}: short read at offset {off}")
        return buf

    def _inflate(self, raw: bytes) -> bytes:
        return _gunzip(raw) if self._internal_comp == 2 else raw

    # -- directory walk ---------------------------------------------------
    def _leaf(self, off: int, ln: int):
        # the LRU read-modify-write must hold the lock: concurrent
        # ThreadingHTTPServer handlers can otherwise race move_to_end /
        # popitem (r6 ADVICE). The lock is NOT held across the ranged
        # read — _read takes it itself (non-reentrant).
        with self._lock:
            cached = self._leaf_cache.get(off)
            if cached is not None:
                self._leaf_cache.move_to_end(off)
                return cached
        d = _parse_directory(self._inflate(self._read(self._leaf_off + off, ln)))
        with self._lock:
            self._leaf_cache[off] = d
            if len(self._leaf_cache) > self._max_leaf_cache:
                self._leaf_cache.popitem(last=False)
        return d

    @staticmethod
    def _find(directory, tid: int):
        """Last entry with entry.tile_id <= tid (spec search)."""
        tids, offs, lens, runs = directory
        i = bisect_right(tids, tid) - 1
        if i < 0:
            return None
        return tids[i], offs[i], lens[i], runs[i]

    # -- public surface ---------------------------------------------------
    def metadata(self) -> dict:
        return json.loads(self._inflate(self._read(self._meta_off, self._meta_len)))

    def get(self, z: int, x: int, y: int) -> bytes | None:
        if not (self.min_zoom <= z <= self.max_zoom) or not (
                0 <= x < (1 << z) and 0 <= y < (1 << z)):
            return None
        tid = hilbert_tile_id(z, x, y)
        try:
            e = self._find(self._root, tid)
            if e is not None and e[3] == 0:  # leaf-directory pointer
                e = self._find(self._leaf(e[1], e[2]), tid)
            if e is None or e[3] == 0 or tid >= e[0] + e[3]:
                return None
            raw = self._read(self._data_off + e[1], e[2])
            return _gunzip(raw) if self._tile_comp == 2 else raw
        except (ValueError, OSError):
            # malformed leaf directory / corrupt compressed payload in
            # an untrusted archive: unaddressed-tile semantics (the
            # server's 204 path), never an uncaught exception
            return None

    def close(self) -> None:
        self._fh.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
