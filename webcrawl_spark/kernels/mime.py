"""MIME / resource-type inference kernel.

- ``GetResourceType(mime)``  — Backend/Crawler.cs:3025-3054.
- ``GuessResourceType(uri)`` — extension of the last path segment →
  MIME override table → resource type (Crawler.cs:3056-3087).
- standard extension→MIME table — ``AddStandardMimeOverrides``
  (Crawler.cs:1150-1209); note the reference registers ``mp3`` twice and the
  second (``audio/mpeg``) wins.

Resource types: 'html' | 'css' | 'javascript' | 'vbscript' | 'binary' |
'unknown' (Crawler.cs:105-122).
"""

from __future__ import annotations

import pandas as pd

HTML, CSS, JS, VBS, BINARY, UNKNOWN = "html", "css", "javascript", "vbscript", "binary", "unknown"

_MIME_TO_TYPE = {
    "text/html": HTML,
    "application/xhtml+xml": HTML,
    "text/xhtml": HTML,   # incorrect but in use (Crawler.cs:3031-3032)
    "text/xml": HTML,
    "text/css": CSS,
    "text/javascript": JS,
    "application/x-javascript": JS,
    "text/ecmascript": JS,
    "text/vbscript": VBS,
}

# AddStandardMimeOverrides (Crawler.cs:1150-1209), dynamic-HTML set included.
EXT_TO_MIME = {
    "htm": "text/html", "html": "text/html", "sht": "text/html",
    "shtm": "text/html", "shtml": "text/html",
    "php": "text/html", "php2": "text/html", "php3": "text/html",
    "php4": "text/html", "php5": "text/html", "asp": "text/html",
    "aspx": "text/html", "jsp": "text/html", "cgi": "text/html",
    "cfm": "text/html", "pl": "text/html",
    "avi": "video/avi", "bmp": "image/bmp", "bz2": "application/x-bzip2",
    "class": "application/java", "css": "text/css",
    "doc": "application/msword", "exe": "application/octet-stream",
    "gif": "image/gif", "gz": "application/x-gzip",
    "jar": "application/java-archive", "jpeg": "image/jpeg",
    "jpg": "image/jpeg", "js": "application/x-javascript",
    "mov": "video/quicktime", "mp2": "audio/mpeg",
    "mp3": "audio/mpeg",  # registered twice in the reference; last wins
    "mpg": "video/mpeg", "mpeg": "video/mpeg", "pdf": "application/pdf",
    "png": "image/png", "ppt": "application/mspowerpoint",
    "qt": "video/quicktime", "ra": "audio/x-realaudio",
    "ram": "audio/x-pn-realaudio", "rm": "application/vnd.rn-realmedia",
    "rtf": "text/rtf", "swf": "application/x-shockwave-flash",
    "tgz": "application/gnutar", "tif": "image/tiff", "tiff": "image/tiff",
    "txt": "text/plain", "wav": "audio/wav", "zip": "application/zip",
}


def build_ext_table(overrides: tuple = ()) -> dict:
    """User MIME overrides (SetMimeOverride, Crawler.cs:1104-1148): entries
    extend/replace the standard table; an empty/None mime REMOVES the
    extension's mapping (the reference's null-mime branch)."""
    t = dict(EXT_TO_MIME)
    for ext, mime in overrides:
        e = str(ext).lower().lstrip(".")
        if mime:
            t[e] = str(mime).lower()
        else:
            t.pop(e, None)
    return t


def resource_type_of_mime(mime: str | None) -> str:
    """GetResourceType (Crawler.cs:3025-3054); None → unknown."""
    if not mime:
        return UNKNOWN
    return _MIME_TO_TYPE.get(mime.split(";", 1)[0].strip().lower(), BINARY)


def normalize_mime(mime: str) -> str:
    """Base content type: parameters stripped, lowercased."""
    return mime.split(";", 1)[0].strip().lower()


def resource_types_of_mime_batch(mimes: pd.Series) -> pd.Series:
    """Vectorized :func:`resource_type_of_mime` over a (nullable)
    Content-Type Series — NULL/empty → unknown, unmapped → binary."""
    base = mimes.fillna("").astype(str).str.split(";").str[0].str.strip().str.lower()
    rtype = base.map(_MIME_TO_TYPE)
    rtype = rtype.where(rtype.notna(), BINARY)
    return rtype.where(base != "", UNKNOWN)


def extension_of_path(path: str) -> str:
    """Extension (no dot, lower) of the last path segment; '' if none.

    Path.GetExtension semantics over Uri.Segments[last]
    (Crawler.cs:3056-3062): a '.' must come after the last '/'.
    """
    seg = path.rsplit("/", 1)[-1]
    dot = seg.rfind(".")
    return seg[dot + 1:].lower() if dot > -1 else ""


def guess_resource_type_from_path(path: str, table: dict | None = None) -> str:
    """GuessResourceType by extension (Crawler.cs:3064-3087):
    no/unknown extension → unknown; known → via the MIME table
    (``table`` = :func:`build_ext_table` output; default standard table)."""
    ext = extension_of_path(path)
    if not ext:
        return UNKNOWN
    mime = (table if table is not None else EXT_TO_MIME).get(ext)
    return resource_type_of_mime(mime) if mime else UNKNOWN


def guess_types_batch(paths: pd.Series, table: dict | None = None) -> pd.Series:
    """Vectorized extension → resource type over a path Series."""
    seg = paths.fillna("").str.rsplit("/", n=1).str[-1]
    ext = seg.str.rpartition(".")[2].str.lower()
    ext = ext.where(seg.str.contains(".", regex=False), "")
    mime = ext.map(table if table is not None else EXT_TO_MIME)
    rtype = mime.map(_MIME_TO_TYPE)
    rtype = rtype.where(mime.notna(), UNKNOWN).fillna(BINARY)
    rtype = rtype.where(ext != "", UNKNOWN)
    return rtype


def effective_types(paths: pd.Series, server_mimes: pd.Series,
                    table: dict | None = None) -> tuple[pd.Series, pd.Series]:
    """A fetched page's effective (resource type, mime) Series: the
    extension guess, with unknown read as HTML (no response headers: the
    oracle's ADAPT), then re-typed from the server Content-Type when that
    maps to a type (GetMimeType prefers the response header over the
    extension guess, Crawler.cs:2100-2119)."""
    rtype = guess_types_batch(paths, table)
    rtype = rtype.where(rtype != UNKNOWN, HTML)
    mime = rtype.map(mime_of_type)
    srv = resource_types_of_mime_batch(server_mimes)
    use = srv != UNKNOWN
    base = (
        server_mimes.fillna("").astype(str)
        .str.split(";").str[0].str.strip().str.lower()
    )
    return srv.where(use, rtype), base.where(use, mime)


def mime_of_type(rtype: str) -> str:
    """GetMimeType(ResourceType) (Crawler.cs:2109-2119)."""
    return {
        CSS: "text/css",
        HTML: "text/html",
        JS: "text/javascript",
        VBS: "text/vbscript",
    }.get(rtype, "application/octet-stream")
