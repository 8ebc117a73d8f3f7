# -*- coding: utf-8 -*-
"""In-memory spans recorded from the benchmark's own files around each
call into the program.  A span carries a name, start, end, parent and
the layer metrics harvested at its exit; spans are written out as JSON
lines when the run ends.  With tracing off, ``span`` only measures
wall time, so untraced runs pay no harvest cost."""
from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

from harvest import StatusStores, dir_writes, stream_progress


class Span:
    def __init__(self, name: str, parent: Optional[int], sid: int):
        self.name = name
        self.parent = parent
        self.id = sid
        self.start = self.end = 0.0
        self.metrics: Dict[str, float] = {}
        self.out_dir: Optional[str] = None
        self.input_bytes = 0
        self.query = None
        self.result = None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.stores: Optional[StatusStores] = None
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self._next_id = 0
        self.harvest_s = 0.0

    def bind(self, spark) -> None:
        """Harvest from ``spark``'s stores (each set-up starts a new
        session)."""
        if self.enabled:
            self.stores = StatusStores(spark)

    @contextmanager
    def span(self, name: str, out_dir: Optional[str] = None,
             input_bytes: int = 0, harvest: bool = True):
        """Time the block; when tracing, record it and, unless
        ``harvest`` is False (phase spans that group others), harvest the
        layer metrics of the jobs it ran."""
        parent = self._stack[-1].id if self._stack else None
        sp = Span(name, parent, self._next_id)
        self._next_id += 1
        sp.out_dir, sp.input_bytes = out_dir, input_bytes
        harvest = harvest and self.enabled
        mark = self.stores.mark() if harvest else None
        self._stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.enabled:
                self.spans.append(sp)
            if harvest:
                self._harvest(sp, mark)

    def _harvest(self, sp: Span, mark) -> None:
        h0 = time.time()
        m = self.stores.harvest(mark, sp.start, sp.end)
        if sp.out_dir:
            files, nbytes, records = dir_writes(sp.out_dir, sp.start)
            m["plans.files_written"] = float(files)
            m["plans.write_amp"] = nbytes / sp.input_bytes if sp.input_bytes else 0.0
            m["plans.manifest_records"] = float(records)
        if sp.query is not None:
            m.update(stream_progress(sp.query))
        sp.metrics = m
        self.harvest_s += time.time() - h0

    def of(self, name: str, phase: str) -> List[Span]:
        """Spans called ``name`` that are children of the ``phase`` span."""
        ids = {s.id for s in self.spans if s.name == phase}
        return [s for s in self.spans if s.name == name and s.parent in ids]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, "metrics": s.metrics,
                }) + "\n")
