"""Porter stemmer — an original Python implementation of the published
algorithm (M.F. Porter, "An algorithm for suffix stripping", Program 1980;
canonical release variant with the bli→ble / logi→log departures).

Matches the reference engine's stemmer behavior
(/root/reference/src/main/java/org/example/Stemmer.java) including:
- the short-word guard: words of length ≤ 2 are returned unchanged
  (Stemmer.java stem() only runs steps when k > 1);
- any character outside aeiou is treated as a consonant ('y' positional);
- operates on whatever bytes it is given — callers lowercase first.

Used inside vectorized pandas UDFs: apply per *unique* token via a dict
cache (``stem_series``) so the Python cost is amortized across Arrow
batches (BASELINE.json: "vectorized pandas/Arrow UDFs, no per-row Python"
— the per-unique-token dict map is the standard amortization for
dictionary-encoded text columns).
"""

from __future__ import annotations

from functools import lru_cache

_VOWELS = frozenset("aeiou")


class _Stemmer:
    """Stateful single-word stemmer (mirrors the published algorithm's
    b/k/j machinery so the step semantics are exactly the canonical ones)."""

    __slots__ = ("b", "k", "j")

    def __init__(self, word: str) -> None:
        self.b = list(word)
        self.k = len(word) - 1
        self.j = 0

    def _cons(self, i: int) -> bool:
        ch = self.b[i]
        if ch in _VOWELS:
            return False
        if ch == "y":
            return True if i == 0 else not self._cons(i - 1)
        return True

    def _m(self) -> int:
        n = 0
        i = 0
        j = self.j
        while True:
            if i > j:
                return n
            if not self._cons(i):
                break
            i += 1
        i += 1
        while True:
            while True:
                if i > j:
                    return n
                if self._cons(i):
                    break
                i += 1
            i += 1
            n += 1
            while True:
                if i > j:
                    return n
                if not self._cons(i):
                    break
                i += 1
            i += 1

    def _vowelinstem(self) -> bool:
        return any(not self._cons(i) for i in range(self.j + 1))

    def _doublec(self, j: int) -> bool:
        if j < 1:
            return False
        if self.b[j] != self.b[j - 1]:
            return False
        return self._cons(j)

    def _cvc(self, i: int) -> bool:
        if i < 2 or not self._cons(i) or self._cons(i - 1) or not self._cons(i - 2):
            return False
        return self.b[i] not in ("w", "x", "y")

    def _ends(self, s: str) -> bool:
        ln = len(s)
        if ln > self.k + 1:
            return False
        if self.b[self.k - ln + 1 : self.k + 1] != list(s):
            return False
        self.j = self.k - ln
        return True

    def _setto(self, s: str) -> None:
        ln = len(s)
        self.b[self.j + 1 : self.j + 1 + ln] = list(s)
        self.k = self.j + ln

    def _r(self, s: str) -> None:
        if self._m() > 0:
            self._setto(s)

    def _step1ab(self) -> None:
        if self.b[self.k] == "s":
            if self._ends("sses"):
                self.k -= 2
            elif self._ends("ies"):
                self._setto("i")
            elif self.b[self.k - 1] != "s":
                self.k -= 1
        if self._ends("eed"):
            if self._m() > 0:
                self.k -= 1
        elif (self._ends("ed") or self._ends("ing")) and self._vowelinstem():
            self.k = self.j
            if self._ends("at"):
                self._setto("ate")
            elif self._ends("bl"):
                self._setto("ble")
            elif self._ends("iz"):
                self._setto("ize")
            elif self._doublec(self.k):
                self.k -= 1
                if self.b[self.k] in ("l", "s", "z"):
                    self.k += 1
            elif self._m() == 1 and self._cvc(self.k):
                self._setto("e")

    def _step1c(self) -> None:
        if self._ends("y") and self._vowelinstem():
            self.b[self.k] = "i"

    _STEP2 = {
        "a": (("ational", "ate"), ("tional", "tion")),
        "c": (("enci", "ence"), ("anci", "ance")),
        "e": (("izer", "ize"),),
        "l": (("bli", "ble"), ("alli", "al"), ("entli", "ent"), ("eli", "e"), ("ousli", "ous")),
        "o": (("ization", "ize"), ("ation", "ate"), ("ator", "ate")),
        "s": (("alism", "al"), ("iveness", "ive"), ("fulness", "ful"), ("ousness", "ous")),
        "t": (("aliti", "al"), ("iviti", "ive"), ("biliti", "ble")),
        "g": (("logi", "log"),),
    }

    def _step2(self) -> None:
        if self.k == 0:
            return
        for suffix, repl in self._STEP2.get(self.b[self.k - 1], ()):
            if self._ends(suffix):
                self._r(repl)
                return

    _STEP3 = {
        "e": (("icate", "ic"), ("ative", ""), ("alize", "al")),
        "i": (("iciti", "ic"),),
        "l": (("ical", "ic"), ("ful", "")),
        "s": (("ness", ""),),
    }

    def _step3(self) -> None:
        for suffix, repl in self._STEP3.get(self.b[self.k], ()):
            if self._ends(suffix):
                self._r(repl)
                return

    _STEP4 = {
        "a": ("al",),
        "c": ("ance", "ence"),
        "e": ("er",),
        "i": ("ic",),
        "l": ("able", "ible"),
        "n": ("ant", "ement", "ment", "ent"),
        "o": ("ion", "ou"),
        "s": ("ism",),
        "t": ("ate", "iti"),
        "u": ("ous",),
        "v": ("ive",),
        "z": ("ize",),
    }

    def _step4(self) -> None:
        if self.k == 0:
            return
        ch = self.b[self.k - 1]
        for suffix in self._STEP4.get(ch, ()):
            if self._ends(suffix):
                if suffix == "ion" and not (self.j >= 0 and self.b[self.j] in ("s", "t")):
                    continue
                if self._m() > 1:
                    self.k = self.j
                return

    def _step5(self) -> None:
        self.j = self.k
        if self.b[self.k] == "e":
            a = self._m()
            if a > 1 or (a == 1 and not self._cvc(self.k - 1)):
                self.k -= 1
        if self.b[self.k] == "l" and self._doublec(self.k) and self._m() > 1:
            self.k -= 1

    def stem(self) -> str:
        if self.k > 1:
            self._step1ab()
            self._step1c()
            self._step2()
            self._step3()
            self._step4()
            self._step5()
        return "".join(self.b[: self.k + 1])


@lru_cache(maxsize=1 << 20)
def porter_stem(word: str) -> str:
    """Stem one (already-lowercased) word. Cached: text columns are highly
    repetitive, so the cache turns per-token work into a dict lookup."""
    if not word:
        return word
    return _Stemmer(word).stem()
