"""The process workload's pyfunc: ``examples/paramtable.py:main`` with the
event magnitude supplied through the process config.

``cmd_process`` hands the pyfunc the selected segment columns only (the
selection's joined dims are not kept), so ``segment.event.magnitude``, which
paramtable reads, does not resolve there. This shim looks the magnitude up
in ``config["magnitudes"]`` (event id -> magnitude, written by the
benchmark) and runs paramtable's code unchanged.
"""

from __future__ import annotations

from types import SimpleNamespace

from stream2segment_spark.examples import paramtable


class _WithEvent:
    """A segment view whose ``event.magnitude`` comes from the config."""

    def __init__(self, segment, magnitude):
        self._segment = segment
        self.event = SimpleNamespace(magnitude=magnitude)

    def __getattr__(self, name):
        return getattr(self._segment, name)

    def get(self, name, default=None):
        return self._segment.get(name, default)


def main(segment, config: dict) -> dict:
    mag = config["magnitudes"].get(segment.event_id)
    return paramtable.main(_WithEvent(segment, mag), config)


main.output_schema = paramtable.OUTPUT_SCHEMA

