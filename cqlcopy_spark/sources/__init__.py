"""Sources of the COPY surface: the CSV readers (`csv_source`), the
Cassandra connector options (`cassandra`) and the `cql_paged` token-range
reader (`paged_source`)."""
