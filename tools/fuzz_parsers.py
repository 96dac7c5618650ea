#!/usr/bin/env python
"""Time-budgeted fuzz harness for every byte-level parser.

The unit suites pin a few hundred fuzz cases each; this tool runs the
same classify-don't-crash contract for a WALL-CLOCK budget across all
parsers at once, with mutation strategies the quick sweeps don't
reach (cross-format splices, repeated bit-flips, length-field
targeted mutations).  Invariants checked per input:

- every parser returns its documented type or None — NEVER raises
- parse_mp4_sample_tables ∘ _sample_locations: any (offset, length)
  pair it reports for a frame inside the declared count is a pair of
  non-negative ints (malformed tables classify to (None, None))
- kpl_deaggregate_bytes returns a list of bytes; a non-KPL or
  corrupted blob comes back as [blob] verbatim
- decode_blob (KPL deagg + gunzip + UTF-8, the record decode kernel)
  returns a list of str; corrupt gzip decodes permissively

Run:  python tools/fuzz_parsers.py [seconds] [seed]
      (defaults: 60 s, seed 0)
Exit: 1 on any contract violation, with the reproducing seed printed.
"""

from __future__ import annotations

import gzip
import os
import random
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def corpus(rng: random.Random) -> list[bytes]:
    """Seed inputs: one valid container per format, so mutations start
    from parseable structure instead of pure noise."""
    from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import (
        kpl_aggregate_bytes,
    )
    from terraform_aws_lambda_kinesis_to_s3_spark.operators import (
        multimodal as MM,
    )

    sizes = [2 + (i % 5) for i in range(17)]
    return [
        MM.synth_mp4(64, 48, 1000, len(sizes), 40, n_filler=3,
                     sample_sizes=sizes, chunks_of=4, payload_pattern=True),
        MM.synth_mp4(32, 32, 600, 10, 25, sample_size=7),
        MM.synth_fmp4(80, 60, 1000, [6, 6], 40, n_filler=5),
        MM.synth_wav(44100, 2, 16, 50, amps=(32767, 1000)),
        MM.synth_png(64, 48, n_filler=9),
        MM.synth_gif(64, 48, n_filler=9),
        MM.synth_jpeg(64, 48, n_filler=9),
        kpl_aggregate_bytes([b"alpha" * 10, b"beta" * 10]),
        gzip.compress(b'{"log_type": "purchase", "log_id": "e-1"}\n' * 8, mtime=0),
    ]


def mutate(rng: random.Random, seeds: list[bytes]) -> bytes:
    base = bytearray(rng.choice(seeds))
    strategy = rng.randrange(6)
    if strategy == 0:  # random bytes, no structure
        return bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
    if strategy == 1:  # truncate
        return bytes(base[: rng.randrange(len(base) + 1)])
    if strategy == 2:  # bit-flips (1..32)
        for _ in range(rng.randrange(1, 33)):
            base[rng.randrange(len(base))] ^= 1 << rng.randrange(8)
        return bytes(base)
    if strategy == 3:  # length-field targeted: overwrite a u32 window
        if len(base) >= 4:
            p = rng.randrange(len(base) - 3)
            v = rng.choice([0, 1, 7, 0x7FFFFFFF, 0x80000000, 0xFFFFFFFF])
            base[p : p + 4] = v.to_bytes(4, rng.choice(["big", "little"]))
        return bytes(base)
    if strategy == 4:  # splice two formats
        other = rng.choice(seeds)
        cut = rng.randrange(len(base))
        return bytes(base[:cut]) + bytes(other[rng.randrange(len(other)):])
    # duplicate a window in place (repeated boxes/chunks)
    if len(base) >= 8:
        p = rng.randrange(len(base) - 7)
        w = base[p : p + rng.randrange(4, 8)]
        base[p:p] = w
    return bytes(base)


def main() -> int:
    budget = float(sys.argv[1]) if len(sys.argv) > 1 else 60.0
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    rng = random.Random(seed)

    from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import (
        decode_blob,
        kpl_deaggregate_bytes,
    )
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        _sample_locations,
        parse_image_header,
        parse_mp4_header,
        parse_mp4_sample_tables,
        parse_wav_header,
        pcm_frame_stats,
    )

    seeds = corpus(rng)
    t0 = time.perf_counter()
    trials = 0
    while time.perf_counter() - t0 < budget:
        trials += 1
        blob = mutate(rng, seeds)
        try:
            out = parse_mp4_header(blob)
            assert out is None or isinstance(out, dict)
            t = parse_mp4_sample_tables(blob)
            assert t is None or isinstance(t, dict)
            if t is not None:
                frames = [0, t["n_frames"] - 1, t["n_frames"], 10**9]
                for off, ln in _sample_locations(t, frames):
                    assert (off is None) == (ln is None)
                    if off is not None:
                        assert off >= 0 and ln >= 0
            w = parse_wav_header(blob)
            assert w is None or (isinstance(w, tuple) and len(w) == 4)
            p = pcm_frame_stats(blob)
            assert p is None or (isinstance(p, tuple) and len(p) == 5)
            i = parse_image_header(blob)
            assert i is None or (isinstance(i, tuple) and len(i) == 3)
            k = kpl_deaggregate_bytes(blob)
            assert isinstance(k, list) and all(
                isinstance(x, (bytes, bytearray)) for x in k
            )
            d = decode_blob(blob)
            assert isinstance(d, list) and all(isinstance(x, str) for x in d)
        except AssertionError:
            raise
        except Exception as e:  # noqa: BLE001
            print(
                f"CONTRACT VIOLATION at trial {trials} (seed {seed}): "
                f"{type(e).__name__}: {e}"
            )
            print(f"  blob[:120] = {blob[:120]!r}")
            return 1
    rate = trials / (time.perf_counter() - t0)
    print(
        f"fuzz_parsers: {trials} mutated inputs in {budget:.0f}s "
        f"({rate:.0f}/s), seed {seed} — zero contract violations"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
