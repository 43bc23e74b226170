"""Argument checks shared by the operators and the streams that wrap them."""

from __future__ import annotations


def check_range(knob: str, value: int, lo: int, hi: int | None = None) -> None:
    """Refuse a size knob outside ``lo..hi`` when the operator is called:
    out of range, a sketch either quietly changes its answers or dies
    mid-stage, and a bucket cap keeps no bucket."""
    if value < lo or (hi is not None and value > hi):
        bound = f">= {lo}" if hi is None else f"in {lo}..{hi}"
        raise ValueError(f"{knob}={value} must be {bound}")
