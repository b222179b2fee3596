"""Extended differential fuzz for the decode core: the possessive-regex fast
path vs the sequential implementation of record, on randomized payloads far
beyond the CI hypothesis profile (run: python tools/fuzz_differential.py
[n_batches]). Alphabet includes pipes, escapes, newlines, NUL, quotes, and
non-ASCII (the Ruby-vs-Python \\w/\\s divergence surface). Exits non-zero on
the first mismatch. Last full run: 20k payloads x 2 configs, 0 mismatches."""
import random
import string
import sys

import pandas as pd

sys.path.insert(0, __file__.rsplit("/", 2)[0])
from cefspark.parser import DecodeConfig, _decode_batch_pandas, decode_batch  # noqa: E402

ALPHABET = string.ascii_letters + string.digits + " |\\=._-:/[]\n\r\"\t\x00" + "é 中"


def rand_payload(rng: random.Random) -> str:
    if rng.random() < 0.15:
        return "".join(rng.choice(ALPHABET) for _ in range(rng.randint(0, 60)))
    inner = ALPHABET.replace("\n", "").replace("\r", "")
    parts = ["".join(rng.choice(inner) for _ in range(rng.randint(0, 10)))
             for _ in range(rng.randint(3, 9))]
    kvs = []
    for _ in range(rng.randint(0, 5)):
        k = "".join(rng.choice(string.ascii_letters + "._[]0123456789") for _ in range(rng.randint(1, 8)))
        v = "".join(rng.choice(inner) for _ in range(rng.randint(0, 12)))
        kvs.append(f"{k}={v}")
    pay = ("CEF:0|" if rng.random() < 0.7 else "") + "|".join(parts) + "|" + " ".join(kvs)
    if rng.random() < 0.1:
        pay = '"' + pay + '"'
    if rng.random() < 0.1:
        pay += rng.choice(["\n", "\r\n", "\r"])
    return pay


def main() -> int:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    rng = random.Random(20260816)
    batch = 2000
    for _ in range(n_batches):
        payloads = [rand_payload(rng) for _ in range(batch)]
        s = pd.Series(payloads)
        for cfg in (DecodeConfig(), DecodeConfig(ecs_mode=True, now="2026-08-16T00:00:00Z")):
            fast = decode_batch(s, cfg)
            slow = _decode_batch_pandas(s, cfg)
            for col in fast.columns:
                fv, sv = fast[col], slow[col]
                for i in range(batch):
                    a, b = fv.iloc[i], sv.iloc[i]
                    if a != b and not (a is None and b is None):
                        print(f"MISMATCH col={col} payload={payloads[i]!r:.120} fast={a!r:.80} slow={b!r:.80}")
                        return 1
    print(f"OK: {n_batches * batch} payloads x 2 configs, fast == sequential-of-record")
    return 0


if __name__ == "__main__":
    sys.exit(main())
