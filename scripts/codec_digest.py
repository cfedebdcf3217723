"""Bit-exactness digest harness for the codec stack.

Hashes every multimodal `_write_*` payload for doc_ids 0..N-1, and for
every h264 payload additionally hashes the FULL decoded frame stack
(pixels + per-frame stats repr) via h264_decode_gop.  Prints one md5
per builder plus a TOTAL digest.  Run before/after a codec change —
identical TOTAL == bit-exact encode AND decode.  ``digest(n)`` returns
the TOTAL (tests/test_codec_digest.py pins it).

Usage: python scripts/codec_digest.py [n_docs]
"""
import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import numpy as np  # noqa: E402

from data_transformation_python_spark.operators import multimodal as M  # noqa: E402
from data_transformation_python_spark.operators.h264_codec import (  # noqa: E402
    h264_decode_gop,
    mp4_read,
    split_annexb,
)


def builder_digests(n_docs: int) -> dict[str, str]:
    """md5 per `_write_*` builder over doc_ids 0..n_docs-1."""
    out = {}
    for name in sorted(n for n in dir(M) if n.startswith("_write_")):
        fn = getattr(M, name)
        h = hashlib.md5()
        for doc_id in range(n_docs):
            res = fn(doc_id)
            payload = res[0] if isinstance(res, tuple) else res
            rest = repr(res[1:]) if isinstance(res, tuple) else ""
            h.update(payload)
            h.update(rest.encode())
            if name.startswith("_write_h264") and not name.endswith("_probe"):
                frames, stats = h264_decode_gop(split_annexb(payload))
                for fr in frames:
                    h.update(np.ascontiguousarray(fr).tobytes())
                h.update(repr(stats).encode())
            elif name == "_write_mp4":
                h.update(repr(mp4_read(payload)).encode())
        out[name] = h.hexdigest()
    return out


def _total(digests: dict[str, str]) -> str:
    total = hashlib.md5()
    for name in sorted(digests):
        total.update(digests[name].encode())
    return total.hexdigest()


def digest(n_docs: int) -> str:
    """The TOTAL md5 over every builder's digest at ``n_docs`` ids."""
    return _total(builder_digests(n_docs))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 24
    t0 = time.time()
    digests = builder_digests(n_docs)
    for name, hexdigest in digests.items():
        print(f"{name}: {hexdigest}")
    print(f"TOTAL: {_total(digests)}  ({time.time() - t0:.1f}s, n={n_docs})")


if __name__ == "__main__":
    main()
