"""Rename-free in-memory commit backend: the fault-injection fake the
commit contract battery and the protocol drills run against.

A flat key space with conditional puts under one lock and no rename or
directory anywhere, so a protocol drill that passes on it does not lean
on a POSIX-only primitive. It overrides every storage primitive of
PosixCommitBackend, including put_atomic_fenced, and inherits only the
protocol-level claim(). Install it for a test with
`mock.patch.object(commit_backend, "_BACKEND", InMemoryCommitBackend())`
(or pytest's monkeypatch): get_commit_backend() is the one lookup every
protocol layer goes through.
"""

from __future__ import annotations

import threading
import time

from cassandra_sstable_to_protocolbuf_spark.commit_backend import (
    PosixCommitBackend)


class InMemoryCommitBackend(PosixCommitBackend):
    """steal() is an atomic pop -- the same linearization point as the
    POSIX rename, with the same ABSENT postcondition."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        # key -> (text, write_monotonic)
        self._objects: dict[str, tuple[str, float]] = {}

    def read_text(self, path: str) -> str:
        with self._lock:
            try:
                return self._objects[path][0]
            except KeyError:
                raise FileNotFoundError(path) from None

    def exists(self, path: str) -> bool:
        with self._lock:
            return path in self._objects

    def listdir(self, dirpath: str) -> list[str]:
        prefix = dirpath.rstrip("/") + "/"
        with self._lock:
            names = {k[len(prefix):].split("/", 1)[0]
                     for k in self._objects if k.startswith(prefix)}
        if not names:
            raise FileNotFoundError(dirpath)
        return sorted(names)

    def put_if_absent(self, path: str, text: str) -> bool:
        with self._lock:
            if path in self._objects:
                return False
            self._objects[path] = (text, time.monotonic())
            return True

    def put_atomic(self, path: str, text: str) -> None:
        with self._lock:
            self._objects[path] = (text, time.monotonic())

    def put_if_match(self, path: str, text: str, expected: str) -> bool:
        with self._lock:
            entry = self._objects.get(path)
            if entry is None or entry[0] != expected:
                return False
            self._objects[path] = (text, time.monotonic())
            return True

    def put_atomic_fenced(self, path: str, text: str) -> None:
        # put_if_match runs under the same lock: already fenced
        self.put_atomic(path, text)

    def steal(self, path: str) -> bool:
        with self._lock:
            return self._objects.pop(path, None) is not None

    def delete(self, path: str) -> None:
        with self._lock:
            self._objects.pop(path, None)

    def age_s(self, path: str) -> float | None:
        with self._lock:
            entry = self._objects.get(path)
        return None if entry is None else time.monotonic() - entry[1]
