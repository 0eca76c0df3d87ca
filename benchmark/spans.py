"""In-memory spans around calls into the program's public functions.

A ``Tracer`` records one span per traced call: name, start, end and the
index of the span that was open when it started.  ``patch`` wraps a
public function everywhere the ``doc_ocr_spark`` package binds it
(its defining module and every module that imported it by name), so
the program itself is not edited.  A name the package no longer binds
is reported as absent; it is not an error.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, keep_spans: bool = True) -> None:
        self.keep_spans = keep_spans
        self.spans: list[dict] = []
        # name -> [calls, total seconds, self seconds]
        self.totals: dict[str, list] = {}
        self._stack: list[list] = []  # [span index, name, start, child seconds]
        self._patched: list[tuple[object, str, object]] = []
        self.absent: list[str] = []  # traced names the program no longer has

    def _enter(self, name: str) -> list:
        parent = self._stack[-1][0] if self._stack else None
        idx = None
        if self.keep_spans:
            idx = len(self.spans)
            self.spans.append({"name": name, "start": 0.0, "end": 0.0, "parent": parent})
        frame = [idx, name, time.perf_counter(), 0.0]
        if idx is not None:
            self.spans[idx]["start"] = frame[2]
        self._stack.append(frame)
        return frame

    def _exit(self, frame: list) -> float:
        end = time.perf_counter()
        idx, name, start, child = self._stack.pop()
        dur = end - start
        t = self.totals.setdefault(name, [0, 0.0, 0.0])
        t[0] += 1
        t[1] += dur
        t[2] += dur - child
        if self._stack:
            self._stack[-1][3] += dur
        if idx is not None:
            self.spans[idx]["end"] = end
        return dur

    @contextmanager
    def span(self, name: str):
        frame = self._enter(name)
        try:
            yield frame
        finally:
            self._exit(frame)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            frame = self._enter(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._exit(frame)

        return traced

    def patch(self, names: list[str]) -> list[str]:
        """Wrap every package function called ``<name>``, in every
        loaded package module that binds it.  Returns the absent names."""
        mods = [
            m
            for n, m in list(sys.modules.items())
            if m is not None and n.startswith("doc_ocr_spark")
        ]
        absent = []
        for name in names:
            fns = {}
            for m in mods:
                fn = getattr(m, name, None)
                if callable(fn) and getattr(fn, "__module__", "").startswith(
                    "doc_ocr_spark"
                ):
                    fns[id(fn)] = fn
            if not fns:
                absent.append(name)
            for fn in fns.values():
                wrapper = self.wrap(fn, name)
                for m in mods:
                    if getattr(m, name, None) is fn:
                        setattr(m, name, wrapper)
                        self._patched.append((m, name, fn))
        return absent

    def unpatch(self) -> None:
        for mod, name, fn in reversed(self._patched):
            setattr(mod, name, fn)
        self._patched.clear()

    def stat(self, name: str) -> tuple[int, float, float]:
        """(calls, total seconds, self seconds) of one traced name."""
        c, t, s = self.totals.get(name, (0, 0.0, 0.0))
        return c, t, s
