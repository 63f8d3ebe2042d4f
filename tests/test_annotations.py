"""Every public function's annotations resolve.

Modules use ``from __future__ import annotations``, so a signature that
names a type its module never imports still imports cleanly and only
fails when something resolves the hints (``typing.get_type_hints``,
pydantic, IDEs, doc generators). This walks the whole package and
resolves each public function's hints. No Spark session is needed.
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import typing

import lakeflow


def _public_functions():
    for info in pkgutil.walk_packages(lakeflow.__path__, "lakeflow."):
        mod = importlib.import_module(info.name)
        for name, obj in vars(mod).items():
            if (
                not name.startswith("_")
                and inspect.isfunction(obj)
                and obj.__module__ == mod.__name__
            ):
                yield f"{mod.__name__}.{name}", obj


def test_public_signatures_resolve():
    bad = []
    for qualname, fn in _public_functions():
        try:
            typing.get_type_hints(fn)
        except NameError as e:
            bad.append(f"{qualname}: {e}")
    assert not bad, "unresolvable annotations:\n" + "\n".join(bad)
