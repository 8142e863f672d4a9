"""Engine configuration — the Spark-side mirror of the reference's
``QuickStreamBuilder`` (reference: builder.rs:14-222).

Every reference tunable is either mapped to a Spark/Structured-Streaming
option or documented as subsumed by the Spark runtime.  The reference
panics on missing required fields (builder.rs:161-221 "...Not Set");
here everything has a sane default and ``validate()`` raises instead.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

_ADJECTIVES = [
    "brisk", "calm", "deft", "eager", "fleet", "keen", "lucid", "nimble",
    "quick", "rapid", "sharp", "swift",
]
_NOUNS = [
    "brook", "comet", "delta", "ember", "falcon", "harbor", "lark",
    "meadow", "otter", "river", "sparrow", "stream",
]


def _random_name(rng: random.Random | None = None) -> str:
    """Two-word default name, like the reference's random default name
    (builder.rs:35-58)."""
    rng = rng or random.Random()
    return f"{rng.choice(_ADJECTIVES)}-{rng.choice(_NOUNS)}"


@dataclass
class QuickStreamConfig:
    """Maps the reference builder's setters onto Spark options.

    Mapping (field -> the Spark option it sets):
      name                           -> ``queryName`` of the streaming query.
      max_con_count                  -> :attr:`write_partitions`: the JDBC
                                        sink's repartition and
                                        ``numPartitions``, and the
                                        multi-table router's concurrency cap.
      buffer_size                    -> ``maxFilesPerTrigger`` via
                                        :meth:`source_options` (the bounded
                                        channel's backpressure analog).
      introduced_lag_in_millies ×
      introduced_lag_cycles          -> ``trigger(processingTime=...)`` via
                                        :meth:`trigger_kwargs` (the lag-cycle
                                        accumulation loop, upsert.rs:158-204).
      checkpoint_dir                 -> ``checkpointLocation`` (no reference
                                        analog; a temp dir when unset).

    Reference setters subsumed by the Spark runtime (no field here):
    ``single_digits`` / ``tens`` / ``hundreds`` (size-class statement
    pools, builder/support.rs:161-232 — Spark plans a set-oriented MERGE
    of any size), ``max_records_per_cycle_batch`` (micro-batch sizing is
    the source rate limit above), ``connection_creation_threshold`` (the
    elastic pool, upsert.rs:382-452, is the Spark scheduler),
    ``print_connection_configuration`` (status logging is a
    ``StreamingQueryListener``: ``StatusListener(verbose=True)`` in
    streaming.listener).
    """

    name: str = field(default_factory=_random_name)
    max_con_count: int = 10
    buffer_size: int = 10
    introduced_lag_in_millies: int = 1_000
    introduced_lag_cycles: int = 1
    checkpoint_dir: str | None = None

    def validate(self) -> "QuickStreamConfig":
        if self.max_con_count < 1:
            raise ValueError("max_con_count must be >= 1")
        if self.buffer_size < 1:
            raise ValueError("buffer_size must be >= 1")
        if self.introduced_lag_in_millies < 0 or self.introduced_lag_cycles < 0:
            raise ValueError("lag settings must be >= 0")
        return self

    @property
    def trigger_interval_ms(self) -> int:
        """Total accumulation window = cycles × per-cycle lag (lib.rs:60-64)."""
        return self.introduced_lag_cycles * self.introduced_lag_in_millies

    def trigger_kwargs(self, available_now: bool = False) -> dict:
        """kwargs for ``DataStreamWriter.trigger``.

        Zero introduced lag means *no delay between cycles* in the
        reference (the accumulation loop spins immediately), so it maps
        to a 0-interval processingTime trigger — continuous micro-
        batches — NOT to availableNow, which would terminate the query
        once current input drains.  Drain-and-stop is only the explicit
        ``available_now=True`` replay mode."""
        if available_now:
            return {"availableNow": True}
        ms = self.trigger_interval_ms
        return {"processingTime": f"{max(ms, 0)} milliseconds"}

    def source_options(self) -> dict:
        """Rate-limit options for file sources (backpressure analog)."""
        return {"maxFilesPerTrigger": str(max(1, self.buffer_size))}

    @property
    def write_partitions(self) -> int:
        return max(1, self.max_con_count)
