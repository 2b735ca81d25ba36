"""Structured Streaming paths: incremental decode of committed waves
(decode_stream) and a stateful sessionizer (stateful). Streaming encode
is the `writeStream.format("kmers")` sink in datasource.py."""
