"""In-memory spans for the traced run.

The tracer wraps public engine functions where callers find them: at the
defining module's attribute and at every other engine-module global bound
to the same function object (``from x import f`` and ``import f as _f``
re-bindings included). Spans record name, start, end, parent and op id;
a layer's self time is its spans' time minus the part their children
cover.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time

from engine import ENGINE_PKG

# span name -> (engine module, public function)
TRACED = {
    "parquet_lake.write_partitioned": ("sources.parquet_lake", "write_partitioned"),
    "parquet_lake.publish": ("sources.parquet_lake", "publish_staged_batch"),
    "parquet_lake.rewrite_atomic": ("sources.parquet_lake", "rewrite_table_atomic"),
    "parquet_lake.fsync": ("sources.parquet_lake", "fsync_dir"),
    "maintenance.merge": ("plans.maintenance", "occ_merge_upsert"),
    "maintenance.commit": ("plans.maintenance", "occ_commit"),
    "maintenance.compact": ("plans.maintenance", "occ_compact_partitions"),
    "maintenance.expire": ("plans.maintenance", "expire_snapshots"),
    "maintenance.vacuum": ("plans.maintenance", "vacuum_unreferenced"),
    "maintenance.snapshot_plan": ("plans.maintenance", "pruned_snapshot_files"),
    "pipeline.crawl": ("pipeline.crawl", "bfs_crawl"),
}


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent, op_id]
        self.op_id = -1
        self._root = -1  # the current op's span: parent of spans on other threads
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack().pop()

    def op(self, op_id: int, name: str) -> int:
        self.op_id = op_id
        self._root = -1
        self._root = self.begin(name)
        return self._root

    def record(self, name: str, start: float, end: float) -> None:
        """A span the caller timed itself, under the current op."""
        with self._lock:
            self.spans.append([name, start, end, self._root, self.op_id])

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced

    def install(self, module) -> None:
        """Re-bind every traced function in every loaded engine module."""
        for name, (mod, attr) in TRACED.items():
            fn = getattr(module(mod), attr)
            wrapper = self._wrap(name, fn)
            for m in [m for n, m in sys.modules.items() if n.startswith(ENGINE_PKG + ".")]:
                for key, val in list(vars(m).items()):
                    if val is fn:
                        setattr(m, key, wrapper)
                        self._patched.append((m, key, fn))

    def uninstall(self) -> None:
        for m, key, fn in reversed(self._patched):
            setattr(m, key, fn)
        self._patched.clear()

    def self_times(self) -> dict[str, tuple[float, int]]:
        """span name -> (total self seconds, calls)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[3] >= 0 and s[2] is not None:
                children.setdefault(s[3], []).append((s[1], s[2]))
        out: dict[str, list] = {}
        for i, (name, start, end, _parent, _op) in enumerate(self.spans):
            if end is None:
                continue
            covered, reach = 0.0, start
            for a, b in sorted(children.get(i, ())):
                a, b = max(a, reach), min(b, end)
                if b > a:
                    covered += b - a
                    reach = b
            acc = out.setdefault(name, [0.0, 0])
            acc[0] += (end - start) - covered
            acc[1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, start, end, parent, op in self.spans:
                fh.write(json.dumps({"name": name, "start": start, "end": end,
                                     "parent": parent, "op": op}) + "\n")
