"""Pins the codec-stack digest: every multimodal ``_write_*`` payload
plus the full H.264 decode of each, hashed over doc_ids 0..11.  A
change to any encoder, decoder or fixture formula moves the TOTAL."""

from __future__ import annotations

import importlib.util
from pathlib import Path


def test_codec_digest_total_is_pinned():
    path = Path(__file__).resolve().parents[1] / "scripts" / "codec_digest.py"
    spec = importlib.util.spec_from_file_location("codec_digest", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.digest(12) == "1fbf6b92b1eb092b9f63a95a917b06aa"
