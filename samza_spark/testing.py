"""Integration-test harness: the samza-test ``TestRunner`` framework
re-expressed for the Spark engine.

Reference: ``TestRunner.of(app).addInputStream(desc, msgs)
.addOutputStream(desc, n).run(duration)`` then
``TestRunner.consumeStream(desc)`` / ``StreamAssert.containsInAnyOrder``
(samza-test/src/main/java/org/apache/samza/test/framework/
TestRunner.java:96-382, StreamAssert.java, MessageStreamAssert.java:57).
The framework's job is IO substitution: the application under test runs
unchanged while its streams are rebound to isolated in-memory systems.

Spark-native equivalent: inputs become :class:`~samza_spark.sources.
descriptors.MemorySource`-backed :class:`MessageStream`s, outputs become
:class:`MemorySink` temp views namespaced by a per-runner scope (the
``inMemoryScope`` isolation trick, TestRunner.java:107-123), and the
app is a callable ``app(streams, sinks)`` that either wires sinks itself
or returns ``{output_name: stream_or_df}`` for the runner to write.

Example::

    runner = (
        TestRunner.of(my_app)
        .add_input_stream("pageviews", rows, "user string, page string")
        .add_output_stream("counts")
    )
    runner.run(spark)
    StreamAssert.contains_in_any_order(
        runner.consume_stream("counts"), [("alice", 3), ("bob", 1)]
    )
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field
from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from samza_spark.sources.descriptors import MemorySink, MemorySource

_scope_counter = itertools.count()


@dataclass
class TestRunner:
    """IO-substituting app harness (TestRunner.java analog)."""

    app: Callable
    configs: dict = field(default_factory=dict)
    _inputs: dict = field(default_factory=dict)
    _outputs: list = field(default_factory=list)
    _scope: str = ""
    _sinks: dict = field(default_factory=dict)
    _ran: bool = False

    @classmethod
    def of(cls, app: Callable) -> "TestRunner":
        # unique scope per runner: concurrently-running tests must not
        # collide on sink view names (the inMemoryScope discipline)
        return cls(app=app, _scope=f"tr{next(_scope_counter)}")

    def add_config(self, key: str, value: str) -> "TestRunner":
        self.configs[key] = value
        return self

    def add_input_stream(
        self, name: str, rows: Sequence, schema: Any
    ) -> "TestRunner":
        self._inputs[name] = MemorySource(rows, schema)
        return self

    def add_output_stream(self, name: str) -> "TestRunner":
        self._outputs.append(name)
        return self

    def _sink_view(self, name: str) -> str:
        return f"{self._scope}_{name}"

    def run(self, spark: SparkSession) -> "TestRunner":
        """Build the in-memory IO, invoke the app, and drain any streaming
        queries it returns/starts with ``processAllAvailable``, which has no
        time bound. That drain never returns for a query with a
        ``ProcessingTimeTimeout`` operator (triggered windows), so test such
        queries with
        :func:`samza_spark.streaming.stateful.await_condition` instead."""
        self._spark = spark
        streams = {n: src.read(spark) for n, src in self._inputs.items()}
        self._sinks = {
            n: MemorySink(self._sink_view(n)) for n in self._outputs
        }
        out = self.app(streams, self._sinks)
        queries = []
        if isinstance(out, Mapping):
            for name, stream_or_df in out.items():
                if name not in self._sinks:
                    raise KeyError(
                        f"app returned output {name!r} with no "
                        f"add_output_stream({name!r})"
                    )
                df = getattr(stream_or_df, "df", stream_or_df)
                q = self._sinks[name].write(df)
                if q is not None:
                    queries.append(q)
        elif out is not None:
            queries = list(out) if isinstance(out, (list, tuple)) else [out]
        for q in queries:
            if hasattr(q, "processAllAvailable"):
                q.processAllAvailable()
                q.stop()
        self._ran = True
        return self

    def consume_stream(self, name: str):
        """Collected rows of an output stream (consumeStream analog)."""
        if not self._ran:
            raise RuntimeError("run() the TestRunner before consuming")
        if name not in self._sinks:
            raise KeyError(f"unknown output stream {name!r}")
        return self._sinks[name].collect(self._spark)


class StreamAssert:
    """containsInAnyOrder / contains (StreamAssert.java,
    MessageStreamAssert.java:57)."""

    @staticmethod
    def _canon(rows) -> list:
        out = []
        for r in rows:
            t = tuple(r) if not isinstance(r, tuple) else r
            out.append(t)
        return sorted(out, key=repr)

    @classmethod
    def contains_in_any_order(cls, got, want) -> None:
        g, w = cls._canon(got), cls._canon(want)
        assert g == w, f"streams differ:\n  got  {g}\n  want {w}"

    @classmethod
    def contains(cls, got, want) -> None:
        """Order-sensitive containment of ``want`` as a subsequence."""
        g = [tuple(r) if not isinstance(r, tuple) else r for r in got]
        w = [tuple(r) if not isinstance(r, tuple) else r for r in want]
        it = iter(g)
        missing = [x for x in w if x not in it]
        assert not missing, (
            f"expected in-order subsequence; missing {missing} in {g}"
        )
