"""Text-analysis primitives for the training-data pipeline operators
(language-ID, quality scoring, token counting, fingerprinting, shingling,
MinHash / SimHash).

These are the *reference semantics* for the Spark operators in
``gleaner_spark.operators.dedup`` / ``.textops``: every function here has
an equivalent column-expression (or pandas-UDF) formulation on the Spark
side, and the DuckDB oracle SQL in ``__spark_entry__`` mirrors the same
formulas — md5-based hashing keeps all three engines bit-identical.

No reference analogue (gleaner does no text analysis); these are the
north-rule's training-data-pipeline additions.
"""

from __future__ import annotations

import hashlib
import re

_WS_RE = re.compile(r"\s+")
_TOKEN_RE = re.compile(r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]")

# tiny deterministic stopword profiles for n-gram/stopword language ID
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "es": ("el", "la", "de", "que", "los", "las", "una", "por", "con", "para"),
    "de": ("der", "die", "das", "und", "nicht", "ein", "mit", "ist", "von", "zu"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "pour", "que", "qui"),
}


def tokens(text: str) -> list[str]:
    """Whitespace tokenization (the simple token counter)."""
    t = text.strip()
    return t.split() if t else []


def bpe_ish_tokens(text: str) -> list[str]:
    """BPE-ish regex tokenization: word pieces + individual punctuation."""
    return _TOKEN_RE.findall(text)


def token_count(text: str) -> int:
    return len(tokens(text))


def normalize_text(text: str) -> str:
    """Lowercase + collapse whitespace — the canonical form for exact
    fingerprinting and shingling."""
    return _WS_RE.sub(" ", text.lower()).strip()


def fingerprint_md5(text: str) -> str:
    """Normalized-document fingerprint: md5 of normalized text."""
    return hashlib.md5(normalize_text(text).encode("utf-8")).hexdigest()


def rolling_hashes(text: str, k: int = 8, base: int = 257,
                   mod: int = (1 << 61) - 1) -> list[int]:
    """Rabin-Karp rolling hash over characters, window k."""
    s = normalize_text(text)
    if len(s) < k:
        return [polynomial_hash(s, base, mod)] if s else []
    out = []
    h = 0
    power = pow(base, k - 1, mod)
    for i, ch in enumerate(s):
        h = (h * base + ord(ch)) % mod
        if i >= k - 1:
            out.append(h)
            h = (h - ord(s[i - k + 1]) * power) % mod
    return out


def polynomial_hash(s: str, base: int = 257, mod: int = (1 << 61) - 1) -> int:
    h = 0
    for ch in s:
        h = (h * base + ord(ch)) % mod
    return h


def winnow_fingerprint(text: str, k: int = 8, window: int = 4) -> list[int]:
    """Winnowing (Schleimer et al., SIGMOD'03): min hash per sliding window
    of rolling hashes, deduplicated — a robust document fingerprint."""
    hs = rolling_hashes(text, k)
    if not hs:
        return []
    if len(hs) <= window:
        return [min(hs)]
    out: list[int] = []
    for i in range(len(hs) - window + 1):
        m = min(hs[i: i + window])
        if not out or out[-1] != m:
            out.append(m)
    return sorted(set(out))


def md5_minhash_signature(shingles: list[str], num_hashes: int = 16) -> list[str]:
    """MinHash signature from ONE md5 per shingle: hash function i is the
    md5 hex digest rotated left by 2·i characters, and sig[i] is the
    lexicographic min over shingles.  Hex-string min == numeric min on
    the uniform md5 space, and each rotation keys the min on a different
    digest position, giving k near-independent permutations for the cost
    of a single digest — the per-seed ``md5(i || ':' || s)`` variant costs
    k× the hashing and was the measured bottleneck in the Spark LSH job
    (interpreted per-element md5 inside higher-order functions).
    Portable: identical values from Python, Spark SQL and DuckDB.
    Empty shingle set → rotations of md5("") (stable sentinel).
    """
    if not 1 <= num_hashes <= 16:
        # 16 stride-2 rotations exist; i=16 ≡ identity (duplicate of i=0)
        raise ValueError(
            f"rotation MinHash supports 1..16 hashes, got {num_hashes}"
        )
    hexes = [
        hashlib.md5(s.encode("utf-8")).hexdigest() for s in shingles
    ] or [hashlib.md5(b"").hexdigest()]
    return [
        min(h[2 * i:] + h[: 2 * i] for h in hexes)
        for i in range(num_hashes)
    ]


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens, md5-derived token hashes."""
    ws = normalize_text(text).split()
    if not ws:
        return 0
    acc = [0] * 64
    for w in ws:
        h = int.from_bytes(hashlib.md5(w.encode("utf-8")).digest()[:8], "big")
        for b in range(64):
            acc[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(64):
        if acc[b] > 0:
            out |= 1 << b
    return out


_HEX = "0123456789abcdef"


def simhash64_hex(text: str) -> str:
    """64-bit SimHash as 16 hex chars, nibble-aligned md5 bit source —
    the PORTABLE formulation (identical in Spark SQL and DuckDB, see
    plans.queries._simhash64_*): bit j (j = 4k + r) of the signature is
    driven by bit r of hex nibble k of md5(token); the signature nibble
    k packs bits 4k..4k+3 back into one hex char.  Hex-string form keeps
    the full 64 bits without bigint sign trouble (bit 63)."""
    ws = normalize_text(text).split()
    if not ws:
        return "0" * 16
    acc = [0] * 64
    for w in ws:
        h = hashlib.md5(w.encode("utf-8")).hexdigest()
        for k in range(16):
            v = int(h[k], 16)
            for r in range(4):
                acc[4 * k + r] += 1 if (v >> r) & 1 else -1
    return "".join(
        _HEX[sum(((acc[4 * k + r] > 0) << r) for r in range(4))]
        for k in range(16)
    )


def language_score(text: str, lang: str) -> int:
    """Stopword-hit count for one language profile (used by ``lang_id``)."""
    padded = " " + normalize_text(text) + " "
    return sum(padded.count(f" {w} ") for w in LANG_STOPWORDS[lang])


def lang_id(text: str) -> str:
    """Heuristic language ID: argmax stopword hits, ties broken by
    language code order; 'und' when nothing matches."""
    best_lang, best = "und", 0
    for lang in sorted(LANG_STOPWORDS):
        score = language_score(text, lang)
        if score > best:
            best, best_lang = score, lang
    return best_lang


def quality_score(text: str) -> float:
    """Length / punctuation / stopword-ratio quality heuristic in [0,1]:
    mean of three clamped components (word count, alpha ratio, English
    stopword ratio) — deterministic, SQL-expressible."""
    ws = tokens(text)
    n = len(ws)
    if n == 0:
        return 0.0
    len_component = min(n / 100.0, 1.0)
    alpha = sum(c.isalpha() or c.isspace() for c in text) / max(len(text), 1)
    stop_hits = language_score(text, "en")
    stop_component = min(5.0 * stop_hits / n, 1.0)
    return round((len_component + alpha + stop_component) / 3.0, 6)
