"""Swap a function for a wrapper at every module attribute of the program
that refers to it, so calls resolved through any import site go through the
wrapper; and undo the swap."""

from __future__ import annotations

import sys

PACKAGE = "polars_ad_etl_spark"


class Patches:
    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def function(self, fn, wrapper) -> int:
        """Replace ``fn`` by ``wrapper`` wherever a program module holds it;
        returns the number of sites patched."""
        n = 0
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, wrapper)
                    n += 1
        if n == 0:
            raise LookupError(f"{fn!r} is referenced by no module of {PACKAGE}")
        return n

    def method(self, cls, name: str, make_wrapper) -> None:
        """Replace ``cls.name`` by ``make_wrapper(original)``."""
        original = cls.__dict__[name]
        self._undo.append((cls, name, original))
        setattr(cls, name, make_wrapper(original))

    def undo(self) -> None:
        while self._undo:
            owner, attr, val = self._undo.pop()
            setattr(owner, attr, val)
