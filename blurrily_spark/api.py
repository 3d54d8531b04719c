"""Reference-API facade: ``Map`` / ``MapGroup`` with blurrily's surface.

Gives a user of the reference (``Blurrily::Map`` -- lib/blurrily/map.rb,
``Blurrily::MapGroup`` -- lib/blurrily/map_group.rb, and the wire commands
PUT/FIND/DELETE/CLEAR -- lib/blurrily/command_processor.rb) a drop-in
equivalent:

    m = Map(spark)
    m.put("paris", 123)          # -> 6 (unique trigrams; 0 on dup ref)
    m.find("pariis")             # -> [(123, 5, 5)]
    m.delete(123)
    m.save("/path/db")           # parquet snapshot, written then renamed
    m = Map.load(spark, "/path/db")

Semantics mirrored from the reference:
* put returns the needle's unique-trigram count, 0 if the ref is already
  stored (storage.c:398-473, dup-skip :408; golden map_spec.rb:38-41);
* weight <= 0 defaults to the normalized length (storage.c:409);
* find returns (ref, matches, weight) ordered (matches DESC, weight ASC,
  ref ASC), default limit 10 (storage.h:99-109, defaults.rb:6);
* save is memoized on a clean path (map.rb:25-30) and atomic
  (write-then-rename, storage.c:371-374);
* a ClosedError-equivalent guard after close() (map_ext.c:11-21).

Like the reference, whose whole index is one in-process array of 28^3
posting lists (storage.c:62-75), a Map lives in driver memory and never
launches a Spark job: every stored ref gets a dense slot holding its ref
and weight, and every trigram an append-only int32 list of slots. put
appends to the lists, delete marks the slot dead (the lists are compacted
once dead slots outnumber live ones), and find counts matches with one
``np.bincount`` over the needle's lists. The snapshot keeps the batch
postings format (``POSTINGS_SCHEMA`` parquet), moved by pyarrow, so the
batch operators (operators/index.py, operators/find.py) read what a Map
saves and a Map loads what they write. Corpora beyond driver memory belong
to those operators.
"""

from __future__ import annotations

import os
import re
import shutil
import time
import uuid
from array import array
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from blurrily_spark.config import LIMIT_DEFAULT, LIMIT_RANGE
from blurrily_spark.functions.tokenizer import normalize_py, trigrams_py

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

REF_RANGE = (1, 1 << 31)     # lib/blurrily/defaults.rb:8
WEIGHT_RANGE = (0, 1 << 31)  # lib/blurrily/defaults.rb:9

# the snapshot format this engine reads/writes (the reference's file header
# + versioning check, ext/blurrily/storage.c:244-250, becomes a schema check)
POSTINGS_SCHEMA = {"trigram": "int", "ref": "bigint", "weight": "int"}
_ARROW_SCHEMA = pa.schema(
    [(col, {"int": pa.int32(), "bigint": pa.int64()}[t]) for col, t in POSTINGS_SCHEMA.items()]
)
_INT32_MAX = (1 << 31) - 1


class ClosedError(RuntimeError):
    """Operation on a closed Map (ext/blurrily/map_ext.c:11-21)."""


class ProtocolError(RuntimeError):
    """Malformed snapshot or wire command (the reference refuses foreign /
    corrupt files with EPROTO -- ext/blurrily/storage.c:244-250,
    spec/blurrily/map_spec.rb:281-330 -- and bad commands with an ERROR
    envelope, lib/blurrily/command_processor.rb:6)."""


def validate_needle(needle) -> None:
    """C7 client-side needle check (lib/blurrily/client.rb:104-106)."""
    if not isinstance(needle, str) or not needle or "\t" in needle:
        raise ValueError("bad needle")


def validate_ref(ref) -> None:
    """C7 client-side ref check (lib/blurrily/client.rb:108-110)."""
    if not isinstance(ref, int) or not REF_RANGE[0] <= ref <= REF_RANGE[1]:
        raise ValueError(f"REF value must be in {REF_RANGE[0]}..{REF_RANGE[1]}")


def _grow(a: np.ndarray, size: int) -> np.ndarray:
    out = np.zeros(size, a.dtype)
    out[: len(a)] = a
    return out


def _replace_dir(src: str, dst: str) -> None:
    """Move directory ``src`` to ``dst``, replacing any previous ``dst``.

    rename(2) cannot swap a non-empty directory in one step, so the old
    snapshot is first renamed aside and put back if the second rename
    fails. A reader of ``dst`` finds the old snapshot, the new one or, for
    the instant between the renames, nothing; never a half-written one."""
    if not os.path.exists(dst):
        os.rename(src, dst)
        return
    old = f"{src}.old"
    os.rename(dst, old)
    try:
        os.rename(src, dst)
    except BaseException:
        os.rename(old, dst)
        raise
    shutil.rmtree(old, ignore_errors=True)


class Map:
    """An exact in-memory trigram index with the reference's Map surface.

    Not thread-safe: the TCP server serializes commands under one lock.
    """

    # Bound on the snapshot a load brings into driver memory, in bytes of
    # the posting rows it reads (trigram int32 + ref int64 + weight int32 =
    # 16 bytes a row, the largest form a row takes during the load). A
    # bigger snapshot is batch territory: query it with operators.find.find
    # over spark.read.parquet(path). The check fails loudly instead of
    # OOMing the driver; tests shrink it via the attribute.
    MAX_LOAD_BYTES = 1 << 30
    _BYTES_PER_ROW = 16

    def __init__(self, spark: SparkSession | None = None):
        # ``spark`` keeps the facade's signature; the map never uses it
        self._clean_path: str | None = None
        self._closed = False
        self._reset()

    def _reset(self) -> None:
        self._lists: dict[int, array] = {}  # trigram -> slots ('i' = int32)
        self._slot_of: dict[int, int] = {}  # live ref -> slot
        self._n = 0  # slots in use, live or dead
        self._refs = np.zeros(0, np.int64)
        self._weights = np.zeros(0, np.int64)
        self._live = np.zeros(0, bool)

    # -- guards ----------------------------------------------------------

    def _guard(self) -> None:
        if self._closed:
            raise ClosedError("map is closed")

    # -- write path -------------------------------------------------------

    def put(self, needle: str, ref: int, weight: int | None = None) -> int:
        """Returns the number of (unique) trigrams stored; 0 for a dup ref."""
        self._guard()
        ref = int(ref)
        if ref in self._slot_of:
            return 0
        weight = int(weight or 0)
        if weight > _INT32_MAX:
            raise ValueError(f"weight must be at most {_INT32_MAX}")
        norm = normalize_py(needle)
        codes = trigrams_py(norm)
        slot = self._n
        if slot == len(self._refs):
            size = max(16, 2 * slot)
            self._refs, self._weights, self._live = (
                _grow(a, size) for a in (self._refs, self._weights, self._live)
            )
        self._refs[slot] = ref
        self._weights[slot] = weight if weight > 0 else len(norm)
        self._live[slot] = True
        self._n += 1
        self._slot_of[ref] = slot
        for code in codes:
            slots = self._lists.get(code)
            if slots is None:
                slots = self._lists[code] = array("i")
            slots.append(slot)
        self._clean_path = None
        return len(codes)

    def delete(self, ref: int) -> None:
        self._guard()
        slot = self._slot_of.pop(int(ref), None)
        if slot is None:
            return
        self._live[slot] = False
        if self._n - len(self._slot_of) > len(self._slot_of):
            self._compact()
        self._clean_path = None

    def clear(self) -> None:
        self._guard()
        self._reset()
        self._clean_path = None

    def _compact(self) -> None:
        """Drop dead slots from every list and renumber the live ones."""
        live = self._live[: self._n]
        renumber = np.cumsum(live) - 1
        for code, slots in list(self._lists.items()):
            s = np.frombuffer(slots, np.intc)
            kept = renumber[s[live[s]]].astype(np.intc)
            if len(kept):
                self._lists[code] = array("i", kept.tobytes())
            else:
                del self._lists[code]
        self._refs, self._weights, self._live = (
            a[: self._n][live] for a in (self._refs, self._weights, self._live)
        )
        self._n = len(self._refs)
        self._slot_of = {ref: slot for slot, ref in enumerate(self._refs.tolist())}

    # -- read path ---------------------------------------------------------

    def find(self, needle: str, limit: int = LIMIT_DEFAULT) -> list[tuple[int, int, int]]:
        """[(ref, matches, weight), ...] -- reference Map#find semantics.

        ``limit <= 0`` falls back to the default of 10 (map_ext.c:142-146);
        a limit beyond LIMIT_RANGE is refused (lib/blurrily/defaults.rb:7,
        client.rb:76-84 -- the reference's clients never send more).
        """
        self._guard()
        limit = int(limit)
        if limit > LIMIT_RANGE[1]:
            raise ValueError(
                f"limit must be in {LIMIT_RANGE[0]}..{LIMIT_RANGE[1]}"
            )
        if limit <= 0:
            limit = LIMIT_DEFAULT
        codes = trigrams_py(normalize_py(needle)) or ()
        gathered = [self._lists[c] for c in codes if c in self._lists]
        if not gathered:
            return []
        # matches(slot) = |T(needle) ∩ T(slot)|: the needle's trigrams are
        # unique and each list holds a slot at most once (F3+F4)
        counts = np.bincount(
            np.concatenate([np.frombuffer(s, np.intc) for s in gathered])
        )
        slots = np.flatnonzero(counts)
        slots = slots[self._live[slots]]
        matches = counts[slots]
        if len(slots) > limit:
            # only slots tied with or above the limit-th best count can rank
            floor = np.partition(matches, -limit)[-limit]
            keep = matches >= floor
            slots, matches = slots[keep], matches[keep]
        refs, weights = self._refs[slots], self._weights[slots]
        top = np.lexsort((refs, weights, -matches))[:limit]  # F5 order
        return list(zip(refs[top].tolist(), matches[top].tolist(), weights[top].tolist()))

    def stats(self) -> dict[str, int]:
        self._guard()
        return {"references": len(self._slot_of), "trigrams": len(self._postings()[1])}

    # -- persistence -------------------------------------------------------

    def save(self, path: str) -> None:
        """Parquet snapshot; memoized while the map is unchanged (map.rb:25-30).

        The snapshot is written into a sibling temporary directory and
        renamed into place (the reference's write-then-rename(2),
        ext/blurrily/storage.c:371-374): a failed write leaves the previous
        snapshot at ``path`` intact. An unchanged map never rewrites at all
        (test_save_memoized_clean_path asserts no mtime change).
        """
        self._guard()
        if self._clean_path == path:
            return
        target = os.path.abspath(path)
        parent, name = os.path.split(target)
        os.makedirs(parent, exist_ok=True)
        tmp = os.path.join(parent, f".{name}.{uuid.uuid4().hex}.tmp")
        os.mkdir(tmp)
        try:
            pq.write_table(self._snapshot(), os.path.join(tmp, "part-00000.parquet"))
            open(os.path.join(tmp, "_SUCCESS"), "wb").close()
            _replace_dir(tmp, target)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        self._clean_path = path

    def _postings(self) -> tuple[np.ndarray, np.ndarray]:
        """(trigram, slot) of every live posting, ordered by trigram."""
        codes = sorted(self._lists)
        lists = [self._lists[c] for c in codes]
        slots = np.concatenate(
            [np.frombuffer(s, np.intc) for s in lists] or [np.zeros(0, np.intc)]
        )
        trigram = np.repeat(np.array(codes, np.int32), [len(s) for s in lists])
        live = self._live[slots]
        return trigram[live], slots[live]

    def _snapshot(self) -> pa.Table:
        """The live postings as ``POSTINGS_SCHEMA`` rows."""
        trigram, slots = self._postings()
        return pa.Table.from_arrays(
            [
                pa.array(trigram, pa.int32()),
                pa.array(self._refs[slots], pa.int64()),
                pa.array(self._weights[slots].astype(np.int32), pa.int32()),
            ],
            schema=_ARROW_SCHEMA,
        )

    @classmethod
    def load(cls, spark: SparkSession | None, path: str) -> "Map":
        """Open a snapshot. Missing path => FileNotFoundError (the
        reference's ENOENT); unreadable or wrong-schema data =>
        ProtocolError (its EPROTO, storage.c:244-250); a snapshot above
        ``MAX_LOAD_BYTES`` => RuntimeError naming the batch path. Runs no
        Spark job."""
        if not os.path.exists(path):
            raise FileNotFoundError(path)
        try:
            dataset = ds.dataset(path, format="parquet")
            schema = dataset.schema
            rows = dataset.count_rows()
        except Exception as exc:  # unreadable/corrupt/not-parquet
            raise ProtocolError(f"not a postings snapshot: {path}") from exc
        found = {f.name: f.type for f in schema}
        bad = {
            f.name: str(found.get(f.name))
            for f in _ARROW_SCHEMA
            if found.get(f.name) != f.type
        }
        if bad:
            raise ProtocolError(
                f"not a postings snapshot: {path} (expected {POSTINGS_SCHEMA}, "
                f"mismatches {bad})"
            )
        size = rows * cls._BYTES_PER_ROW
        if size > cls.MAX_LOAD_BYTES:
            raise RuntimeError(
                f"snapshot {path} holds {rows} postings (~{size} bytes in "
                f"memory), above Map.MAX_LOAD_BYTES={cls.MAX_LOAD_BYTES}; "
                "query it in batch with blurrily_spark.operators.find.find "
                "over spark.read.parquet(path)"
            )
        try:
            table = dataset.to_table(columns=_ARROW_SCHEMA.names)
        except Exception as exc:
            raise ProtocolError(f"not a postings snapshot: {path}") from exc
        if any(col.null_count for col in table.columns):
            raise ProtocolError(f"not a postings snapshot: {path} (null values)")
        m = cls(spark)
        m._index(*(table.column(name).to_numpy() for name in _ARROW_SCHEMA.names))
        m._clean_path = path
        return m

    def _index(self, trigram: np.ndarray, ref: np.ndarray, weight: np.ndarray) -> None:
        """Fill an empty map from posting rows; slots follow ref order. All
        postings of a ref share one weight (operators/index.py)."""
        refs, first, slot = np.unique(ref, return_index=True, return_inverse=True)
        self._n = len(refs)
        self._refs = refs.astype(np.int64)
        self._weights = weight[first].astype(np.int64)
        self._live = np.ones(self._n, bool)
        self._slot_of = {r: s for s, r in enumerate(self._refs.tolist())}
        order = np.lexsort((slot, trigram))
        trigram, slot = trigram[order], slot[order].astype(np.intc)
        codes, starts = np.unique(trigram, return_index=True)
        ends = [*starts[1:].tolist(), len(trigram)]
        self._lists = {
            code: array("i", slot[a:b].tobytes())
            for code, a, b in zip(codes.tolist(), starts.tolist(), ends)
        }

    def close(self) -> None:
        self._closed = True


class MapGroup:
    """Named multi-tenant maps (lib/blurrily/map_group.rb): one Map per db
    name, lazily loaded from ``directory`` if a saved snapshot exists."""

    def __init__(self, spark: SparkSession | None, directory: str = "."):
        self._spark = spark
        self._dir = directory
        self._maps: dict[str, Map] = {}

    def _path(self, name: str) -> str:
        return os.path.join(self._dir, f"{name}.trigrams")

    def map(self, name: str) -> Map:
        if name not in self._maps:
            path = self._path(name)
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                self._maps[name] = Map.load(self._spark, path)
            else:
                self._maps[name] = Map(self._spark)
        return self._maps[name]

    def clear(self, name: str) -> Map:
        self._maps[name] = Map(self._spark)
        return self._maps[name]

    def save_all(self) -> None:
        for name, m in self._maps.items():
            m.save(self._path(name))


class CommandProcessor:
    """C5: wire-command dispatch + error envelope
    (lib/blurrily/command_processor.rb, goldens
    spec/blurrily/command_processor_spec.rb).

    One tab-separated request line in, one ``OK\\t...`` / ``ERROR\\t<msg>``
    line out; FIND results are flattened (ref, matches, weight) triples.
    The TCP accept loop (C6) lives in ``blurrily_spark.server`` and wraps
    this class; the batch entry point remains spark-submit (north rule).
    """

    COMMANDS = ("FIND", "PUT", "DELETE", "CLEAR")
    _DB_RE = re.compile(r"^[a-z_]+$")
    _NUM_RE = re.compile(r"^\d+$")

    def __init__(self, map_group: MapGroup):
        self._group = map_group
        # handler signatures are fixed for the object's lifetime; build
        # them once -- process_command sits inside the TCP server's one
        # serialized section, so per-request inspect.signature() would be
        # pure added latency on the hot path
        import inspect

        self._signatures = {
            cmd: inspect.signature(getattr(self, f"_on_{cmd}"))
            for cmd in self.COMMANDS
        }
        # command -> [requests, seconds spent answering them]
        self._timings = {cmd: [0, 0.0] for cmd in self.COMMANDS}

    def command_stats(self) -> dict[str, dict[str, float]]:
        """``{command: {"count": n, "seconds": s}}`` for every command,
        including the ones answered with an ERROR envelope."""
        return {
            cmd: {"count": n, "seconds": s} for cmd, (n, s) in self._timings.items()
        }

    def process_command(self, line: str) -> str:
        started = time.perf_counter()
        parts = line.split("\t")
        command, map_name, args = parts[0], parts[1] if len(parts) > 1 else "", parts[2:]
        try:
            return self._dispatch(command, map_name, args)
        finally:
            timing = self._timings.get(command)
            if timing is not None:
                timing[0] += 1
                timing[1] += time.perf_counter() - started

    def _dispatch(self, command: str, map_name: str, args: list[str]) -> str:
        try:
            if command not in self.COMMANDS:
                raise ProtocolError("Unknown command")
            if not self._DB_RE.match(map_name):
                raise ProtocolError("Invalid database name")
            handler = getattr(self, f"_on_{command}")
            # arity is validated BEFORE dispatch (signature bind), so a
            # genuine TypeError raised inside a command implementation
            # propagates as a bug instead of masquerading as the protocol's
            # wrong-number-of-arguments reply
            try:
                self._signatures[command].bind(map_name, *args)
            except TypeError as exc:
                raise ProtocolError("wrong number of arguments") from exc
            result = handler(map_name, *args)
            return "\t".join(["OK", *[str(x) for x in (result or [])]])
        except (ProtocolError, ValueError) as exc:
            return f"ERROR\t{exc}"

    # -- commands (command_processor.rb:26-51) ---------------------------

    def _check_ref(self, ref: str) -> int:
        if not self._NUM_RE.match(ref) or not REF_RANGE[0] <= int(ref) <= REF_RANGE[1]:
            raise ProtocolError("Invalid reference")
        return int(ref)

    def _on_PUT(self, map_name: str, needle: str, ref: str, weight: str | None = None):
        ref_i = self._check_ref(ref)
        if weight is not None and (
            not self._NUM_RE.match(weight)
            or not WEIGHT_RANGE[0] <= int(weight) <= WEIGHT_RANGE[1]
        ):
            raise ProtocolError("Invalid weight")
        self._group.map(map_name).put(needle, ref_i, int(weight) if weight else 0)
        return None

    def _on_DELETE(self, map_name: str, ref: str):
        self._group.map(map_name).delete(self._check_ref(ref))
        return None

    def _on_FIND(self, map_name: str, needle: str, limit: str | None = None):
        if limit is not None and not (
            self._NUM_RE.match(limit) and LIMIT_RANGE[0] <= int(limit) <= LIMIT_RANGE[1]
        ):
            raise ProtocolError("Limit must be a number")
        results = self._group.map(map_name).find(
            needle, int(limit) if limit else LIMIT_DEFAULT
        )
        return [x for triple in results for x in triple]

    def _on_CLEAR(self, map_name: str):
        self._group.clear(map_name)
        return None
