"""The one by-value pickle registration of the multimodal modules."""

from __future__ import annotations

import sys


def pickle_by_value(module_name: str) -> None:
    """Have cloudpickle ship the named module's functions by value, so
    closures that call them run on workers that cannot import the
    package (a bare session's). Without pyspark nothing pickles them;
    any other failure raises at import."""
    try:
        from pyspark import cloudpickle
    except ImportError:
        return
    cloudpickle.register_pickle_by_value(sys.modules[module_name])
