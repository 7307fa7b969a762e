"""Deterministic local fixtures for driving the engine's network edges
without outbound connectivity: a canned Solana JSON-RPC node
(:mod:`rpc_fixture`) whose golden-shaped transactions reproduce the
reference parser's own test vector. Used by both the test suite and the
I/O-protocol catalog queries, which is why it ships in the package rather
than under tests/."""
