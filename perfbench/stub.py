"""Call-counting wrapper around the program's extractive stub summarizer.

Kept in its own small module because Spark's Python workers import it by
name when they unpickle the traced run's backend factory.
"""

from __future__ import annotations

from tugas_2_big_data_spark.text.summarize import extractive_stub_backend


def counting_stub(calls):
    """Backend factory: the stub backend, adding 1 to the Spark
    accumulator ``calls`` per model call."""

    def backend(text: str, max_length: int, min_length: int) -> str:
        calls.add(1)
        return extractive_stub_backend(text, max_length, min_length)

    return backend
