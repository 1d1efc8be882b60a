"""Distributed frontier scheduler: exact or cuckoo URL-seen state, politeness,
DFS-priority admission, round loop + record assembly."""

from .engine import FrontierEngine, assemble_records

__all__ = ["FrontierEngine", "assemble_records"]
