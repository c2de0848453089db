"""Collects the benchmark's own tests (``perfbench/tests``) into this
suite, so its generators, metric tables and tiny end-to-end runs are
gated with the engine's tests."""

from perfbench.tests.test_perfbench import *  # noqa: F401,F403
