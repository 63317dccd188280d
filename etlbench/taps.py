"""Wrap the program's public functions from outside, without editing it.

Modules import each other's functions by name (``from
metoffice_spark.io import load``), so a tap replaces every binding of
the original function object in every loaded ``metoffice_spark``
module, and ``remove`` puts them all back.
"""

from __future__ import annotations

import functools
import sys
import time


class Taps:
    def __init__(self, on_call):
        """``on_call(name, t0, t1, args, kwargs)`` runs after every tapped
        call, with ``perf_counter`` times."""
        self.on_call = on_call
        self._undo: list[tuple[object, str, object]] = []

    def tap(self, module_name: str, func_name: str, label: str | None = None) -> None:
        orig = getattr(sys.modules[module_name], func_name)
        label = label or f"{module_name.removeprefix('metoffice_spark.')}.{func_name}"
        on_call = self.on_call

        @functools.wraps(orig)
        def tapped(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                on_call(label, t0, time.perf_counter(), args, kwargs)

        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("metoffice_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, tapped)
                    self._undo.append((mod, attr, orig))

    def remove(self) -> None:
        for mod, attr, orig in reversed(self._undo):
            setattr(mod, attr, orig)
        self._undo.clear()


def table_arg(args, kwargs) -> str:
    """The table name passed to ``io.load(spark, sf_dir, name)``."""
    return kwargs.get("name", args[2] if len(args) > 2 else "?")
