"""Structured Streaming drivers for the engine's incremental semantics."""

from .pipeline import ChangelogStreamJob, run_shareholders_stream

__all__ = ["ChangelogStreamJob", "run_shareholders_stream"]
