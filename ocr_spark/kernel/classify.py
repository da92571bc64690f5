"""Alphabet learning and 1-NN classification (reference CurvatureClassifier).

The learned ``Alphabet`` holds stacked ndarrays — cheap to pickle
into a Spark broadcast / UDF closure. Classification is a batched integer L1
over the 48-dim curvature vectors with first-index tie-break, exactly the
reference's truncating accumulation + strict-less argmin
(CurvatureClassifier.java:977-1021).
"""

from __future__ import annotations

import numpy as np

from .bitmap import extract_matrix
from .features import curvature_vector, extract_closest_pixel

# CurvatureClassifier.java:19-22 ('*' appears twice; first-wins argmin makes
# the second template unreachable, preserved bug-for-bug)
DEFAULT_ALPHABET = (
    "ABCDEFGHIJKLM"
    "NOPQRSTUVWXYZ"
    "abcdefghijklm"
    "nopqrstuvwxyz"
    "0123456789@+'"
    "/\\\"*.-:,&()=*"
)

DEFAULT_MATRIX_SIZE = 9  # OCREngine.java:10


class Alphabet:
    """Learned template set: characters + stacked feature arrays."""

    def __init__(self, n: int = DEFAULT_MATRIX_SIZE):
        self.n = n
        self.chars: list[str] = []
        self.def_chars: list[str] = []
        self.fonts: list[str] = []
        self.vectors = np.zeros((0, 8 * 2 * 3), dtype=np.int64)
        self.closest = np.zeros((0, n, n), dtype=np.int64)

    def reset(self):
        """E4: drop every learned template (CurvatureClassifier.reset,
        :82-85 — the constructor calls it too, so a fresh instance and a
        reset one are indistinguishable)."""
        self.__init__(self.n)
        return self

    def learn_sheet(self, gray: np.ndarray, font_name: str, alphabet: str | None = None):
        """T1: learn the fixed 13x6 font sheet grid
        (CurvatureClassifier.learn, :45-79; grid cell (71x+1, 69y+1, 69, 67)).
        Repeated calls append (multi-font), matching engine semantics."""
        if alphabet is None:
            alphabet = DEFAULT_ALPHABET
        if len(alphabet) != len(DEFAULT_ALPHABET):
            raise ValueError(f"Alphabet must contain {len(DEFAULT_ALPHABET)} characters")
        gw, gh = 71, 69
        vecs, clos = [], []
        for gy in range(6):
            for gx in range(13):
                bx, by, bw, bh = gw * gx + 1, gh * gy + 1, gw - 2, gh - 2
                char_index = 13 * (by // 69) + (bx // 71)
                ch = alphabet[char_index] if char_index < len(alphabet) else " "
                dc = DEFAULT_ALPHABET[char_index] if char_index < len(alphabet) else " "
                matrix, _ = extract_matrix(gray, bx, by, bw, bh, self.n)
                if not matrix.any():  # empty cell, skipped (:832-835)
                    continue
                vecs.append(curvature_vector(matrix).reshape(-1))
                clos.append(extract_closest_pixel(matrix))
                self.chars.append(ch)
                self.def_chars.append(dc)
                self.fonts.append(font_name)
        if vecs:
            self.vectors = np.concatenate([self.vectors, np.stack(vecs)])
            self.closest = np.concatenate([self.closest, np.stack(clos)])
        return self

    # -- serialization for the on-disk feature cache (np.savez keys) -----
    def to_dict(self) -> dict:
        return {
            "n": self.n,
            "chars": self.chars,
            "def_chars": self.def_chars,
            "fonts": self.fonts,
            "vectors": self.vectors,
            "closest": self.closest,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "Alphabet":
        a = cls(int(d["n"]))
        a.chars = list(d["chars"])
        a.def_chars = list(d["def_chars"])
        a.fonts = list(d["fonts"])
        a.vectors = np.asarray(d["vectors"], dtype=np.int64)
        a.closest = np.asarray(d["closest"], dtype=np.int64)
        return a


def classify_batch(vectors: np.ndarray, alphabet: Alphabet, accept: np.ndarray | None = None):
    """T2: batched nearest-neighbor by integer L1 on curvature vectors.

    ``vectors``: (B, 48) int64. ``accept``: optional (S,) bool template
    filter (resolver char-class subset, L3/L4 — applied by masking distances
    to +inf, the *sound* variant; the reference's accept-all default is the
    only configuration it ever exercises, see SURVEY.md T3).
    Returns (indices, distances).
    """
    d = np.abs(vectors[:, None, :] - alphabet.vectors[None, :, :]).sum(axis=2)
    if accept is not None:
        d = np.where(accept[None, :], d, np.iinfo(np.int64).max)
    idx = d.argmin(axis=1)  # first index wins ties, like the reference loop
    return idx, d[np.arange(len(idx)), idx]


def classify_template_batch(closest: np.ndarray, alphabet: Alphabet):
    """T6 (dormant in reference, :911-944): normalized L1 on distance
    transforms; higher is better. Optional vote scorer, off the parity path."""
    n = alphabet.n
    d = np.abs(closest[:, None, :, :] - alphabet.closest[None, :, :, :]).sum(axis=(2, 3))
    return 1.0 - d / float(n * n * n)


# --------------------------------------------------------------------------
# Multiclassifier vote (north-star slot: curvature 1-NN + template matcher
# + neural net). The curvature classifier remains the parity path; the vote
# adds confidence/agreement and an optional override mode for users who
# want consensus decisions (never used by the default extraction pipeline).
# --------------------------------------------------------------------------

def load_glyph_mlp():
    """Committed deterministic MLP weights (tools/train_glyph_mlp.py);
    loaded via importlib.resources so the --py-files zip works."""
    import io
    from importlib import resources

    raw = resources.files("ocr_spark").joinpath("data/glyph_mlp.npz").read_bytes()
    z = np.load(io.BytesIO(raw), allow_pickle=False)
    return {k: z[k] for k in ("W1", "b1", "W2", "b2", "chars")}


def classify_mlp_batch(matrices: np.ndarray, weights: dict):
    """T7 realization: 2-layer MLP over flattened 9x9 glyph matrices.
    Returns (pred char indices into weights['chars'], softmax confidence)."""
    x = matrices.reshape(len(matrices), -1).astype(np.float64)
    h = np.tanh(x @ weights["W1"] + weights["b1"])
    logits = h @ weights["W2"] + weights["b2"]
    logits -= logits.max(axis=1, keepdims=True)
    p = np.exp(logits)
    p /= p.sum(axis=1, keepdims=True)
    idx = p.argmax(axis=1)
    return idx, p[np.arange(len(idx)), idx]


def classify_vote_batch(
    matrices: np.ndarray,
    vectors: np.ndarray,
    alphabet: Alphabet,
    mlp_weights: dict | None = None,
):
    """Char-level majority vote of three independent classifiers:

      1. curvature 1-NN (T2, the reference's production path)
      2. template matcher on distance transforms (T6, dormant in reference)
      3. glyph MLP (T7 slot, trained offline, committed weights)

    Ties (all three disagree) fall back to the curvature decision, so with
    vote DISABLED or all-tie inputs the output equals the parity path.
    Returns (chars, agreement in {1,2,3}) per glyph.
    """
    if mlp_weights is None:
        mlp_weights = load_glyph_mlp()
    idx_curv, _ = classify_batch(vectors, alphabet)
    closest = np.stack([extract_closest_pixel(m) for m in matrices])
    idx_tmpl = classify_template_batch(closest, alphabet).argmax(axis=1)
    idx_mlp, _ = classify_mlp_batch(matrices, mlp_weights)

    mlp_chars = mlp_weights["chars"]
    out_chars, agreement = [], []
    for b in range(len(matrices)):
        c1 = alphabet.chars[int(idx_curv[b])]
        c2 = alphabet.chars[int(idx_tmpl[b])]
        c3 = str(mlp_chars[int(idx_mlp[b])])
        votes = {}
        for c in (c1, c2, c3):
            votes[c] = votes.get(c, 0) + 1
        best = max(votes.values())
        winner = c1 if votes.get(c1, 0) == best else (c2 if votes.get(c2, 0) == best else c3)
        out_chars.append(winner)
        agreement.append(best)
    return out_chars, np.array(agreement)
