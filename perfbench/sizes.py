"""Sizes of the generated inputs, shared by the load generator and the
workloads. Imports nothing from ``kasper_spark``."""

# wordcount-open: offered load and the generator's schedule
RATE = 10_000  # msg/s
TICK_MS = 100  # one file per partition per tick
PARTITIONS = 4  # partitions of every generated topic

# docjoin-drain backlog, per partition: each topic fills one capped batch of
# kasper's Config.BatchSize (1000 per partition)
FICTIONS = 1000
CHARACTERS = 900  # plus 10% re-sent as updates
