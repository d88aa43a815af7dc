"""In-memory spans around the layers' public entry points.

The traced run wraps, at runtime and from outside the package, the
public functions of each layer (``tables.metadata``, ``tables.table``,
``tables.catalog``, ``sql.facade``) in spans. ``commit_metadata`` and
``load_metadata`` are also replaced where ``tables.table`` and
``tables.catalog`` imported them by name. Spans stay in memory; the run
writes them out when it ends. The untraced run installs nothing.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench import stats


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Span recorder. Parents are tracked per thread; every span carries
    the id of the benchmark operation running when it started."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op_id: str | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sp = Span(name, time.time(), 0.0, stack[-1] if stack else None, self.op_id, attrs)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(sp)
        stack.append(idx)
        try:
            yield sp
        except BaseException as exc:
            sp.attrs["error"] = type(exc).__name__
            raise
        finally:
            sp.end = time.time()
            stack.pop()

    def wrap(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned version of itself;
        ``on_result(span, args, kwargs, result)`` may add attributes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                result = orig(*args, **kwargs)
            if on_result is not None:  # outside the span: not timed as the layer's
                on_result(sp, args, kwargs, result)
            return result

        self.replace(owner, attr, wrapper)

    def replace(self, owner: object, attr: str, new: object) -> None:
        """Set ``owner.attr`` to ``new`` until :meth:`uninstall`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp), default=str) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = []
    for i, sp in enumerate(spans):
        covered = [c for c in (stats.clip(iv, (sp.start, sp.end)) for iv in children.get(i, [])) if c]
        out.append((sp.end - sp.start) - stats.union_length(covered))
    return out


def layer_of(name: str) -> str:
    """``tables.table.append`` → ``tables.table``; ``operators.build`` →
    ``operators``."""
    parts = name.split(".")
    return ".".join(parts[:2]) if parts[0] in ("tables", "sql") else parts[0]


def install_layers(tracer: Tracer) -> None:
    """Wrap the public entry points of the table and SQL layers."""
    from iceberg_matrix_spark.sql import facade
    from iceberg_matrix_spark.tables import catalog, metadata, table

    def on_commit(sp, args, _kwargs, version):
        location, meta = args[0], args[1]
        sp.attrs["bytes"] = os.path.getsize(metadata._version_path(location, version))
        sp.attrs["file_entries"] = sum(
            len(s.data_files) + len(s.delete_files) for s in meta.snapshots
        )

    for fn, hook in (("commit_metadata", on_commit), ("load_metadata", None)):
        tracer.wrap(metadata, fn, f"tables.metadata.{fn}", hook)
        for mod in (table, catalog):  # modules that imported it by name
            if hasattr(mod, fn):
                tracer.replace(mod, fn, getattr(metadata, fn))

    for method in ("append", "df", "merge", "update", "delete", "overwrite"):
        tracer.wrap(table.IceLiteTable, method, f"tables.table.{method}")
    for method in ("create_table", "load_table", "drop_table"):
        tracer.wrap(catalog.IceLiteCatalog, method, f"tables.catalog.{method}")

    def on_sql(sp, _args, _kwargs, result):
        sp.attrs["kind"] = "dml" if result is None else "select"

    tracer.wrap(facade.IceLiteSQL, "sql", "sql.facade.sql", on_sql)
