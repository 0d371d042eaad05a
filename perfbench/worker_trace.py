"""Preloaded in the serving pool's forkserver during traced runs: every
pool worker forked from it records spans (see ``tracing.install_worker``)."""

from perfbench.tracing import install_worker

install_worker()
