"""Sinks of the COPY surface: `csv_sink` renders every export's lines;
`batched_sink` is the `cql_batched` writer, the one batched, retried write."""
