"""ftindex — URL -> filetype classification decision tree.

Re-implements the reference's per-crawler filetype index and its full
URL decision tree (/root/reference/src/libmetha/ftindex.c:60-247,
resolved bindings per metha.c:1118-1170), including these exact
semantics and quirks:

- extension lookup hashes the ext (case-insensitively, stopping at
  '?') into 16 buckets and then *prefix*-compares over the URL-ext
  length (ftindex.c:100-133) — a URL ext that is a prefix of a
  configured ext in the same bucket matches (QUIRK);
- bindings: "@ft" binds directly; "lookup" -> POSSIBLE_MATCH (resolve
  by HTTP HEAD content-type); "discard" -> fall through to the
  UMEX-only scan and then drop (QUIRK: discard still honors UMEX);
- ftp dir URLs with ftp_dir_url="lookup" are *discarded*, not HEADed
  (ftindex.c:146-153 QUIRK); ftp non-dir URLs get extension matching
  only, no fallback bindings;
- MIME lookup is exact full-string match (mime.c:226-241): config
  entries like "image/" never match "image/png" (QUIRK preserved);
- filetypes earlier in the crawler's list win ties (tail insertion,
  ftindex.c:78-87).

Classification outcomes:
    ("ft", name)    bound to a filetype
    ("head", None)  POSSIBLE_MATCH — needs content-type resolution
    (None, None)    discard
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from ..config import CrawlConfig, Crawler, Filetype
from .canonicalize import ParsedUrl
from .umex import Umex, compile_umex

HEAD = "head"
FT = "ft"

Outcome = Tuple[Optional[str], Optional[str]]


def _ext_hash(ext: str) -> int:
    """The reference's 4-bit extension hash (ftindex.c:72-76,113-117)."""
    if not ext:
        return 0
    h = ord(ext[0].lower())
    for ch in ext[1:]:
        h = (h + ((h << 1) ^ ord(ch.lower()))) & 0xFFFFFFFF
    return h & 0x0F


class FtIndex:
    """Per-crawler prepared filetype index (build once at driver,
    broadcast to executors inside the classify UDF closure)."""

    def __init__(self, config: CrawlConfig, crawler: Crawler):
        self.crawler = crawler
        self.ft_list: List[Filetype] = [
            config.filetype(n) for n in crawler.filetypes
        ]
        self.exprs: Dict[str, Optional[Umex]] = {
            f.name: compile_umex(f.expr) for f in self.ft_list
        }
        # 16-bucket extension table, tail-inserted in filetype order
        self.e_index: List[List[Tuple[str, str]]] = [[] for _ in range(16)]
        for f in self.ft_list:
            for ext in f.extensions:
                self.e_index[_ext_hash(ext)].append((ext.lower(), f.name))
        # exact-string mime table; first filetype to claim a mime wins
        self.m_index: Dict[str, str] = {}
        for f in self.ft_list:
            for mt in f.mimetypes:
                self.m_index.setdefault(mt, f.name)
        self._bindings = {
            "dynamic_url": crawler.dynamic_url,
            "extless_url": crawler.extless_url,
            "dir_url": crawler.dir_url,
            "unknown_url": crawler.unknown_url,
            "ftp_dir_url": crawler.ftp_dir_url,
        }

    # -- internals ---------------------------------------------------

    def _umex_scan(self, p: ParsedUrl, extless_only: bool) -> Optional[str]:
        """Scan filetypes with a UMEX in crawler order; return first hit.

        ``extless_only`` mirrors the `!e_count && expr` scans
        (ftindex.c:205-213, 221-229)."""
        for f in self.ft_list:
            if extless_only and f.extensions:
                continue
            u = self.exprs[f.name]
            if u is not None and u.match(p):
                return f.name
        return None

    def match_by_ext(self, p: ParsedUrl) -> Optional[str]:
        """Bucket + prefix compare + UMEX confirm (ftindex.c:100-133)."""
        ext = p.ext
        if not ext:
            return None
        ext_l = ext.lower()
        for entry, ft_name in self.e_index[_ext_hash(ext)]:
            # QUIRK: compare only len(url_ext) chars of the entry
            if entry[: len(ext_l)] == ext_l:
                u = self.exprs[ft_name]
                if u is None or u.match(p):
                    return ft_name
        return None

    def _binding(self, name: str, p: ParsedUrl,
                 discard_scan_extless_only: bool) -> Outcome:
        b = self._bindings[name]
        if b.startswith("@"):
            return (FT, b[1:])
        if b == "lookup":
            return (HEAD, None)
        # "discard": fall through to the UMEX scan, then drop
        hit = self._umex_scan(p, discard_scan_extless_only)
        return (FT, hit) if hit else (None, None)

    # -- public ------------------------------------------------------

    def match_by_url(self, p: ParsedUrl) -> Outcome:
        """The full decision tree (ftindex.c:141-238)."""
        if p.protocol == "ftp":
            if p.is_dir:
                b = self._bindings["ftp_dir_url"]
                if b.startswith("@"):
                    return (FT, b[1:])
                # QUIRK: lookup AND discard both drop ftp dirs
                return (None, None)
            hit = self.match_by_ext(p)
            return (FT, hit) if hit else (None, None)

        if not p.ext_o:  # no file extension
            if p.is_dynamic:
                return self._binding("dynamic_url", p, False)
            # unconditional UMEX scan over ALL filetypes with an expr
            hit = self._umex_scan(p, False)
            if hit:
                return (FT, hit)
            if p.is_dir:
                b = self._bindings["dir_url"]
                if b.startswith("@"):
                    return (FT, b[1:])
                if b == "lookup":
                    return (HEAD, None)
                return (None, None)
            b = self._bindings["extless_url"]
            if b.startswith("@"):
                return (FT, b[1:])
            if b == "lookup":
                return (HEAD, None)
            return (None, None)

        # has an extension
        if p.is_dynamic:
            b = self._bindings["dynamic_url"]
            if b.startswith("@"):
                return (FT, b[1:])
            if b == "lookup":
                return (HEAD, None)
            hit = self.match_by_ext(p)
            if hit:
                return (FT, hit)
            hit = self._umex_scan(p, True)
            return (FT, hit) if hit else (None, None)

        hit = self.match_by_ext(p)
        if hit:
            return (FT, hit)
        hit = self._umex_scan(p, True)
        if hit:
            return (FT, hit)
        b = self._bindings["unknown_url"]
        if b.startswith("@"):
            return (FT, b[1:])
        if b == "lookup":
            return (HEAD, None)
        return (None, None)

    def match_by_mime(self, mime: Optional[str]) -> Optional[str]:
        """Exact-string mime match after stripping ';' params
        (worker.c:575-578, mime.c:226-241)."""
        if not mime:
            return None
        mime = mime.split(";", 1)[0]
        return self.m_index.get(mime)


def has_umex(idx: FtIndex) -> bool:
    """True when some filetype of the crawler has a UMEX expression:
    match_by_url then depends on the full URL, not only on the finite
    (protocol, ext, dynamic, dir) key."""
    return any(u is not None for u in idx.exprs.values())
