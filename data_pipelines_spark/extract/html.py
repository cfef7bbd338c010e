"""HTML extraction as vectorized pandas/Arrow UDFs.

The reference's extraction layer is 36 per-field BeautifulSoup extractors
dispatched by one orchestrator that parses each page exactly once
(``boxing/extract/orchestrator.py:29-99``). The Spark-native version keeps
the parse-once-extract-many amortization but vectorizes it: ONE pandas UDF
per purpose, processing an Arrow batch of pages per call and returning a wide
struct — never 36 separate Python UDFs (Catalyst can't fuse opaque UDFs).

Determinism contract: ``html_to_text`` is pure Python (compiled regexes + the
stdlib entity table, no locale/env/library-version dependence), so extracted
text is byte-identical on every replay — the per-row invariant from
BASELINE.json ``input_hint``.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_WS_RE = re.compile(r"\s+")
_SKIP_BLOCK_RE = re.compile(
    r"<(script|style|noscript|template)\b[^>]*>.*?</\1\s*>", re.S | re.I
)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_TAG_RE = re.compile(r"<[^>]*>")


def _to_text_one(html_s: bytes | str | None) -> str | None:
    if html_s is None:
        return None
    if isinstance(html_s, (bytes, bytearray, memoryview)):
        html_s = bytes(html_s).decode("utf-8", errors="replace")
    import html as _html

    s = _SKIP_BLOCK_RE.sub(" ", html_s)
    s = _COMMENT_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    s = _html.unescape(s)
    return _WS_RE.sub(" ", s).strip()


@F.pandas_udf(T.StringType())
def html_to_text(html: pd.Series) -> pd.Series:
    """binary/string HTML → visible text, whitespace-collapsed.

    Reference analog: the blank-page validator's text extraction
    (``boxing/validators/blank_page.py:12-80``) and every field extractor's
    ``get_text()``. Byte-identical across replays by construction: pure
    regex + stdlib entity table, no library/locale/env dependence.
    """
    return html.map(_to_text_one)


# ---------------------------------------------------------------------------
# Wide-struct field extraction (parse once, emit many fields)
# ---------------------------------------------------------------------------

#: the FULL reference field surface — one struct field per extractor module
#: in ``boxing/extract/page/boxer/fields/`` (34 scalar/list extractors; bouts
#: and the URL harvesters are separate 1→N UDFs below), plus a few engine
#: diagnostics (title/lang_attr/n_tables/text_len and a first-bout summary).
PAGE_FIELDS_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("birth_name", T.StringType()),
        T.StructField("nicknames", T.ArrayType(T.StringType())),
        T.StructField("avatar_image", T.StringType()),
        T.StructField("birth_date", T.StringType()),
        T.StructField("birth_place", T.StringType()),
        T.StructField("residence", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("nationality", T.StringType()),
        T.StructField("height_cm", T.IntegerType()),
        T.StructField("reach_cm", T.IntegerType()),
        T.StructField("stance", T.StringType()),
        T.StructField("debut_date_pro", T.StringType()),
        T.StructField("debut_date_amateur", T.StringType()),
        T.StructField("division", T.StringType()),
        T.StructField("division_amateur", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("status_amateur", T.StringType()),
        T.StructField("pro_wins", T.IntegerType()),
        T.StructField("pro_losses", T.IntegerType()),
        T.StructField("pro_draws", T.IntegerType()),
        T.StructField("pro_ko_wins", T.IntegerType()),
        T.StructField("pro_ko_losses", T.IntegerType()),
        T.StructField("am_wins", T.IntegerType()),
        T.StructField("am_losses", T.IntegerType()),
        T.StructField("am_draws", T.IntegerType()),
        T.StructField("am_ko_wins", T.IntegerType()),
        T.StructField("am_ko_losses", T.IntegerType()),
        T.StructField("rounds_pro", T.IntegerType()),
        T.StructField("rounds_amateur", T.IntegerType()),
        T.StructField("promoters", T.ArrayType(T.StringType())),
        T.StructField("trainers", T.ArrayType(T.StringType())),
        T.StructField("managers", T.ArrayType(T.StringType())),
        T.StructField("gym", T.StringType()),
        # engine diagnostics / first-bout summary (not reference fields)
        T.StructField("opponent_name", T.StringType()),
        T.StructField("opponent_id", T.StringType()),
        T.StructField("bout_date", T.StringType()),
        T.StructField("result", T.StringType()),
        T.StructField("lang_attr", T.StringType()),
        T.StructField("n_tables", T.IntegerType()),
        T.StructField("text_len", T.IntegerType()),
    ]
)

_TITLE_RE = re.compile(r"<title>\s*(.*?)\s*</title>", re.S)
_H1_RE = re.compile(r"<h1[^>]*>(.*?)</h1>", re.S)
_OGTITLE_RE = re.compile(
    r'<meta[^>]*property="og:title"[^>]*content="([^"]*)"', re.S
)
_ROWSCAN_RE = re.compile(
    r"<tr[^>]*>\s*<t[dh][^>]*>(.*?)</t[dh]>\s*<t[dh][^>]*>(.*?)</t[dh]>", re.S
)
_PERSON_RE = re.compile(
    r'<a class="personLink" href="(/(?:[a-z]{2}/)?box-pro/(\d+)[^"]*)"[^>]*>(.*?)</a>',
    re.S,
)
_RESULT_RE = re.compile(r'class="boutResult"[^>]*>\s*([A-Z]{1,2})\s*<', re.S)
_DATE_RE = re.compile(r"<td>(\d{4}-\d{2}-\d{2})</td>")
_LANGATTR_RE = re.compile(r'lang="([a-z]{2})"')
_TABLE_RE = re.compile(r"<table\b")
_ANYDATE_RE = re.compile(r"(\d{4}-\d{2}-\d{2})")
_AGE_SUFFIX_RE = re.compile(r"\s*\(.*?\)\s*$")
_RECORD_RE = re.compile(r"(\d+)\s*[-–]\s*(\d+)\s*[-–]\s*(\d+)")
_KO_RE = re.compile(r"(\d+)\s*KOs?", re.I)
_KO_LOSS_RE = re.compile(r"(\d+)\s*(?:losses?\s*by\s*)?KOs?\s*(?:losses?|against)", re.I)
_WLD_TABLE_RE = re.compile(r'<table class="profileWLD"[^>]*>(.*?)</table>', re.S)
_TR_RE = re.compile(r"<tr[^>]*>(.*?)</tr>", re.S)
_TD_RE = re.compile(r"<t[dh][^>]*>(.*?)</t[dh]>", re.S)
_CELL_CLASS_RE = re.compile(r'<t[dh][^>]*class="([^"]*)"[^>]*>(.*?)</t[dh]>', re.S)
_IMG_RE = re.compile(r"<img\b[^>]*>", re.S)
_ATTR_RE = re.compile(r'(\w+)="([^"]*)"')
_STAT_SPAN_RE = re.compile(
    r'class="profileStatisticLabel"[^>]*>(.*?)</span>.*?'
    r'class="profileStatisticValue"[^>]*>(.*?)</span>',
    re.S,
)

#: reference ``format_date_iso`` candidate formats
#: (``debut_date_pro.py:12-36``) — unparseable input passes through unchanged.
_ISO_DATE_FORMATS = [
    "%Y-%m-%d", "%d/%m/%Y", "%m/%d/%Y", "%d-%m-%Y", "%m-%d-%Y",
    "%B %d, %Y", "%d %B %Y", "%b %d, %Y", "%d %b %Y",
]


def _date_iso(value: str) -> str | None:
    """``format_date_iso`` parity: try the fixed format list, else return the
    original string (reference returns the raw value when unparseable)."""
    from datetime import datetime

    v = value.strip()
    if not v:
        return None
    for fmt in _ISO_DATE_FORMATS:
        try:
            return datetime.strptime(v, fmt).strftime("%Y-%m-%d")
        except ValueError:
            continue
    return v


def _clean(fragment: str) -> str:
    """Tag-strip + whitespace-collapse — the ``get_text().strip()`` analog."""
    return _WS_RE.sub(" ", _TAG_RE.sub(" ", fragment)).strip()


def _label_rows(html: str) -> list[tuple[str, str]]:
    """ONE scan of all (label, value) table rows — every label-driven field
    extractor shares it, the same amortization as the reference's single
    BeautifulSoup parse serving 36 ``find_all('tr')`` scans."""
    return [
        (_clean(lb).lower(), _clean(val))
        for lb, val in _ROWSCAN_RE.findall(html)
    ]


def _first(rows: list[tuple[str, str]], pred) -> str | None:
    for lb, val in rows:
        if pred(lb):
            return val
    return None


def _split_list(value: str | None) -> list[str] | None:
    """Comma-split + strip (``promoters.py:24-27`` family). The reference
    re-joins with ', ' and the loader JSON-encodes the list; the engine keeps
    the native ``array<string>`` (F11: no string-JSON round trip needed)."""
    if not value:
        return None
    items = [v.strip() for v in value.split(",") if v.strip()]
    return items or None


def _status_value(value: str) -> str | None:
    """``status_pro.py:24-29`` mapping: inactive/retired/not active →
    'inactive'; active → 'active'; anything else → None."""
    low = value.lower()
    if any(w in low for w in ("inactive", "retired", "not active")):
        return "inactive"
    if "active" in low:
        return "active"
    return None


def _length_cm(value: str, assume_inches_bare: bool) -> int | None:
    """cm-preferred length parse (``height.py:7-31``, ``reach.py:10-28``):
    explicit NNNcm wins; else ft/in (height) or bare inches (reach) × 2.54."""
    m = re.search(r"(\d+)\s*cm", value)
    if m:
        return int(m.group(1))
    if assume_inches_bare:
        m = re.search(r"(\d+)", value)
        if m:
            return int(int(m.group(1)) * 2.54)
        return None
    m = re.search(r"(\d+)\s*(?:ft|′|')\s*(\d+)?", value)
    if m:
        ft, inch = int(m.group(1)), int(m.group(2) or 0)
        return int((ft * 12 + inch) * 2.54)
    return None


def _wld_cells(row_html: str) -> list[tuple[str, str]]:
    """(class, text) for each cell of a profileWLD row."""
    out = []
    for m in _TD_RE.finditer(row_html):
        cls_m = _CELL_CLASS_RE.match(m.group(0))
        cls = cls_m.group(1) if cls_m else ""
        out.append((cls, _clean(m.group(1))))
    return out


def _avatar(html: str) -> str | None:
    """``avatar_image.py:10-36``: profile-picture selectors, skip
    blank/default placeholders, relative src → absolute boxrec URL."""
    for tag in _IMG_RE.findall(html):
        attrs = dict(_ATTR_RE.findall(tag))
        cls, alt, src = attrs.get("class", ""), attrs.get("alt", ""), attrs.get("src")
        if not src:
            continue
        if not (
            "profileBoxerPicture" in cls
            or "photoBorder" in cls
            or "profile" in alt.lower()
        ):
            continue
        if "blank" in src.lower() or "default" in src.lower():
            continue
        if src.startswith("/"):
            return f"https://boxrec.com{src}"
        if src.startswith("http"):
            return src
    return None


def _fields_one(html: bytes | str | None) -> dict:
    out = dict.fromkeys([f.name for f in PAGE_FIELDS_SCHEMA.fields])
    if html is None:
        return out
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    # parse/scan once, extract many — same amortization as the reference's
    # single BeautifulSoup parse shared by all field extractors.
    m = _TITLE_RE.search(html)
    raw_title = _clean(m.group(1)) if m else None
    out["title"] = (
        re.sub(r"^BoxRec:\s*", "", raw_title) if raw_title else None
    )
    # name fallback chain, reference order AND conditions (``name.py:20-38``):
    # the <title> wins only when it carries the 'BoxRec:' marker (stripped);
    # otherwise h1; otherwise og:title (again only with the marker).
    h1 = _H1_RE.search(html)
    h1_text = _clean(h1.group(1)) if h1 else None
    og = _OGTITLE_RE.search(html)
    og_text = og.group(1).strip() if og else None
    if raw_title and "BoxRec:" in raw_title:
        out["name"] = re.sub(r".*BoxRec:\s*", "", raw_title).strip() or None
    elif h1_text:
        out["name"] = h1_text
    elif og_text and "BoxRec:" in og_text:
        out["name"] = og_text.replace("BoxRec:", "").strip() or None

    rows = _label_rows(html)
    _profile_fields(html, out, rows)

    # first-bout summary diagnostics (engine extras)
    m = _PERSON_RE.search(html)
    if m:
        out["opponent_id"], out["opponent_name"] = m.group(2), _clean(m.group(3))
    m = _RESULT_RE.search(html)
    out["result"] = m.group(1) if m else None
    m = _DATE_RE.search(html)
    out["bout_date"] = m.group(1) if m else None
    m = _LANGATTR_RE.search(html)
    out["lang_attr"] = m.group(1) if m else None
    out["n_tables"] = len(_TABLE_RE.findall(html))
    out["text_len"] = len(_to_text_one(html) or "")
    return out


def _profile_fields(html: str, out: dict, rows: list[tuple[str, str]]) -> None:
    """All label-row profile families, mirroring the reference's per-field
    extractors (``boxing/extract/page/boxer/fields/*.py``); see each branch
    for the cited source file. Notable reference quirks reproduced:

    - ``gender`` defaults to 'M' when absent (``gender.py:23-24``);
    - pro W/L/D and pro KO counts return **0, not NULL, even when the
      profileWLD table is missing** (``wins_pro.py:33``'s unconditional
      ``return 0``; same for losses/draws/KOs);
    - amateur W/L/D come from an 'amateur record' "W-L-D" string and stay
      NULL when absent (``wins_amateur.py`` returns None);
    - ``rounds_pro`` and ``rounds_amateur`` share one extraction (the two
      reference modules are line-identical label scans — ``rounds_pro.py``
      vs ``rounds_amateur.py``).
    """
    bd = _first(
        rows, lambda lb: lb in ("born", "birth date", "date of birth")
    )
    if bd:
        bd = _AGE_SUFFIX_RE.sub("", bd)
        m = _ANYDATE_RE.search(bd)
        out["birth_date"] = m.group(1) if m else bd or None
    out["birth_name"] = _first(rows, lambda lb: "birth name" in lb)
    bp = _first(rows, lambda lb: "birth place" in lb or "birthplace" in lb)
    out["birth_place"] = bp or None
    out["residence"] = _first(rows, lambda lb: "residence" in lb) or None
    sex = _first(rows, lambda lb: lb in ("sex", "gender"))
    out["gender"] = (
        "M" if sex is None else ("F" if sex.lower().startswith("f") else "M")
    )
    out["nationality"] = _first(rows, lambda lb: lb == "nationality")
    st = _first(rows, lambda lb: "stance" in lb)
    out["stance"] = st.lower() if st else None
    height = _first(rows, lambda lb: lb == "height")
    if height:
        out["height_cm"] = _length_cm(height, assume_inches_bare=False)
    reach = _first(rows, lambda lb: "reach" in lb)
    if reach:
        out["reach_cm"] = _length_cm(reach, assume_inches_bare=True)
    nick = _first(rows, lambda lb: lb in ("alias", "nickname", "nicknames"))
    out["nicknames"] = _split_list(nick)

    # debut dates (``debut_date_pro.py:40-56`` / ``debut_date_amateur.py``)
    dp = _first(rows, lambda lb: "debut" in lb and "amateur" not in lb)
    out["debut_date_pro"] = _date_iso(dp) if dp else None
    da = _first(rows, lambda lb: "debut" in lb and "amateur" in lb)
    out["debut_date_amateur"] = _date_iso(da) if da else None

    # divisions (``division_pro.py:7-27`` excludes weight/amateur labels)
    out["division"] = _first(
        rows,
        lambda lb: "division" in lb and "amateur" not in lb and "weight" not in lb,
    )
    out["division_amateur"] = _first(
        rows, lambda lb: "division" in lb and "amateur" in lb
    )

    # statuses (``status_pro.py:7-31`` / ``status_amateur.py:7-55``)
    sp = _first(rows, lambda lb: "status" in lb and "amateur" not in lb)
    out["status"] = _status_value(sp) if sp else None
    sa = _first(rows, lambda lb: "status" in lb and "amateur" in lb)
    out["status_amateur"] = _status_value(sa) if sa else None

    # rounds: label row (not 'scheduled') else profileStatistic spans
    rd = _first(rows, lambda lb: "rounds" in lb and "scheduled" not in lb)
    rounds = None
    if rd:
        try:
            rounds = int(rd)
        except ValueError:
            rounds = None
    if rounds is None:
        for lb, val in _STAT_SPAN_RE.findall(html):
            if "rounds" in _clean(lb).lower():
                try:
                    rounds = int(_clean(val))
                    break
                except ValueError:
                    continue
    out["rounds_pro"] = out["rounds_amateur"] = rounds

    # entourage lists + gym (``promoters.py``/``trainers.py``/``managers.py``/``gym.py``)
    out["promoters"] = _split_list(_first(rows, lambda lb: "promoter" in lb))
    out["trainers"] = _split_list(_first(rows, lambda lb: "trainer" in lb))
    out["managers"] = _split_list(_first(rows, lambda lb: "manager" in lb))
    out["gym"] = _first(rows, lambda lb: "gym" in lb) or None

    # amateur record "W-L-D (N KOs)" (``wins_amateur.py:38-52`` method 2)
    am = _first(rows, lambda lb: "amateur" in lb and "record" in lb)
    if am:
        m = _RECORD_RE.search(am)
        if m:
            out["am_wins"], out["am_losses"], out["am_draws"] = (
                int(m.group(1)), int(m.group(2)), int(m.group(3)),
            )
        # the two reference KO extractors run independently on the same text:
        # wins from any 'N KOs' (``wins_by_knockout_amateur.py:47-51``),
        # losses only from the explicit loss phrasing
        # (``losses_by_knockout_amateur.py:20-24``)
        m = _KO_RE.search(am)
        if m:
            out["am_ko_wins"] = int(m.group(1))
        m = _KO_LOSS_RE.search(am)
        if m:
            out["am_ko_losses"] = int(m.group(1))

    # pro W/L/D + KOs from profileWLD (class-tagged cells, positional
    # fallback, 0-not-NULL defaults — ``wins_pro.py:7-33``,
    # ``wins_by_knockout_pro.py:10-28``)
    out["pro_wins"] = out["pro_losses"] = out["pro_draws"] = 0
    out["pro_ko_wins"] = out["pro_ko_losses"] = 0
    wld = _WLD_TABLE_RE.search(html)
    if wld:
        trs = _TR_RE.findall(wld.group(1))
        if trs:
            cells = _wld_cells(trs[0])
            by_class = {c: v for c, v in cells if c}
            for key, cls, pos in (
                ("pro_wins", "bgW", 0), ("pro_losses", "bgL", 1), ("pro_draws", "bgD", 2),
            ):
                v = by_class.get(cls)
                if v is None and len(cells) > pos:
                    v = cells[pos][1]
                if v is not None and v.isdigit():
                    out[key] = int(v)
        if len(trs) > 1:
            ko_cells = _wld_cells(trs[1])
            for key, pos in (("pro_ko_wins", 0), ("pro_ko_losses", 1)):
                if len(ko_cells) > pos:
                    m = _KO_RE.search(ko_cells[pos][1])
                    if m:
                        out[key] = int(m.group(1))

    # status_amateur fallback (``status_amateur.py:28-52``): boxers with any
    # pro fights are inferred amateur-inactive
    if out["status_amateur"] is None and wld:
        if any(v > 0 for v in (out["pro_wins"], out["pro_losses"], out["pro_draws"])):
            out["status_amateur"] = "inactive"

    out["avatar_image"] = _avatar(html)


@F.pandas_udf(PAGE_FIELDS_SCHEMA)
def extract_page_fields(html: pd.Series) -> pd.DataFrame:
    """One Arrow batch of pages in → wide struct of extracted fields out.

    Spark-native form of ``ExtractionOrchestrator.extract_all``
    (``boxing/extract/orchestrator.py:67-99``): per-field failures yield NULL
    for that field only, never fail the row.
    """
    rows = html.map(_fields_one)
    return pd.DataFrame(list(rows))


# ---------------------------------------------------------------------------
# Bout-history UDTF analog: one page in → N bout structs out (+ explode)
# ---------------------------------------------------------------------------

JUDGE_SCHEMA = T.StructType(
    [T.StructField("name", T.StringType()), T.StructField("score", T.StringType())]
)

BOUT_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("bout_date", T.StringType()),
            T.StructField("opponent_name", T.StringType()),
            T.StructField("opponent_id", T.StringType()),
            T.StructField("opponent_record", T.StringType()),
            T.StructField("venue", T.StringType()),
            T.StructField("result", T.StringType()),
            T.StructField("result_method", T.StringType()),
            T.StructField("result_round", T.IntegerType()),
            T.StructField("event_id", T.StringType()),
            T.StructField("opponent_url", T.StringType()),
            T.StructField("opponent_weight", T.StringType()),
            T.StructField("recent_form", T.StringType()),
            T.StructField("rating", T.IntegerType()),
            T.StructField("event_link", T.StringType()),
            T.StructField("bout_ref_id", T.StringType()),
            T.StructField("bout_link", T.StringType()),
            T.StructField("scorecards_link", T.StringType()),
            T.StructField("referee_name", T.StringType()),
            T.StructField("judges", T.ArrayType(JUDGE_SCHEMA)),
            T.StructField("titles", T.ArrayType(T.StringType())),
        ]
    )
)

_DATATABLE_RE = re.compile(r'<table class="dataTable"[^>]*>(.*?)</table>', re.S)
_COLSPAN_RE = re.compile(r"<td[^>]*colspan", re.I)
_WLD_RE = re.compile(
    r'class="textWon"[^>]*>(\d+)<.*?class="textLost"[^>]*>(\d+)<.*?class="textDraw"[^>]*>(\d+)<',
    re.S,
)
_WEIGHT_RE = re.compile(r'class="textWeight"[^>]*>\s*([^<]*?)\s*<', re.S)
_BOUTRESULT_RE = re.compile(r'class="boutResult"[^>]*>\s*([^<]*?)\s*<', re.S)
# any /event/<id> href matches (the reference's event_anchor search,
# ``bouts.py:126-133``, also matches bout links — same here)
_EVENT_RE = re.compile(r'href="(/(?:[a-z]{2}/)?event/(\d+)[^"]*)"')
_BOUTLINK_RE = re.compile(r'href="(/(?:[a-z]{2}/)?event/\d+/(\d+))"')
_SCORECARD_RE = re.compile(r'href="(/(?:[a-z]{2}/)?scorecard[s]?/[^"]+)"')
_FORM_IMG_RE = re.compile(r'<img[^>]*src="[^"]*(l6[wld])[^"]*"', re.S)
_STAR_RE = re.compile(r'<i class="fas fa-star[^"]*"')
_TITLELINK_RE = re.compile(r'href="/(?:[a-z]{2}/)?title/([^"]+)"[^>]*>(.*?)</a>', re.S)
_REFEREE_RE = re.compile(r"referee:?\s*([^|]+?)\s*(?:\||$)", re.I)
_JUDGE_RE = re.compile(r"judge:?\s*(.+?)(?:\s+(\d+-\d+))?\s*(?:\||$)", re.I)

#: boutResult text → (result code, method) — reference
#: boxing/extract/page/boxer/fields/bouts.py:81-116. The reference maps the
#: code to long form ('win'/'loss'/…) and ``normalize_bout_result``
#: immediately maps it back (``transform/bout_data.py:50-96``); the engine
#: keeps the canonical W/L/D/NC codes end-to-end (one representation).
_RESULT_CODES = {"W": "W", "L": "L", "D": "D", "NC": "NC"}
_METHODS = ["TKO", "KO", "RTD", "DQ", "UD", "MD", "SD", "PTS", "decision"]


def _parse_note_row(row: str) -> tuple[str | None, list[dict]]:
    """Referee + judges from a colspan note row (engine completion: the
    reference skips note rows entirely — ``bouts.py:22-24`` — leaving its
    declared ``refereeName``/``judgeNName`` staging fields permanently NULL
    (``to_staging_mirror_db.py:86-121``); here they are actually populated
    from the 'referee: X | judge: Y 115-113' note text when present)."""
    text = _clean(row)
    referee = None
    m = _REFEREE_RE.search(text)
    if m and m.group(1).strip():
        referee = m.group(1).strip()
    judges = []
    for m in _JUDGE_RE.finditer(text):
        name = re.sub(r"\s*referee:.*$", "", m.group(1).strip(), flags=re.I)
        if name:
            judges.append({"name": name, "score": m.group(2)})
    return referee, judges


def _bouts_one(html: bytes | str | None) -> list[dict]:
    """Reference bouts extractor (``bouts.py:7-146``) semantics:
    skip header/short rows; date from cell 0; opponent name/id/url from the
    ``personLink`` anchor (``:36-48``); W-L-D record from the
    textWon/textLost/textDraw spans (``:51-57``); last-6 form from
    l6w/l6l/l6d img sources (``:60-73``); venue cell 5; result code +
    method + trailing round from the ``boutResult`` cell (``:81-116``);
    star-count rating (``:119-123``); event/bout links + ids (``:126-140``).
    Keep only rows with a date AND an opponent (``:143-144``). Colspan note
    rows additionally feed referee/judges of the preceding bout (see
    ``_parse_note_row``)."""
    if html is None:
        return []
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    out: list[dict] = []
    last_kept = False  # notes attach only to the IMMEDIATELY preceding bout
    for tbl in _DATATABLE_RE.findall(html):
        for row in _TR_RE.findall(tbl):
            if "<th" in row:
                last_kept = False
                continue  # header rows
            if _COLSPAN_RE.search(row):
                # note row: referee/judges attach to the bout right above it
                # — never across a rejected row (that note belongs to the
                # rejected bout, not to an earlier unrelated one)
                if out and last_kept:
                    referee, judges = _parse_note_row(row)
                    if referee and out[-1]["referee_name"] is None:
                        out[-1]["referee_name"] = referee
                    if judges and not out[-1]["judges"]:
                        out[-1]["judges"] = judges
                continue
            cells = _TD_RE.findall(row)
            if not cells:
                last_kept = False
                continue
            b: dict = {f.name: None for f in BOUT_SCHEMA.elementType.fields}
            b["judges"] = []
            b["titles"] = []
            m = _ANYDATE_RE.search(cells[0])
            b["bout_date"] = m.group(1) if m else None
            m = _PERSON_RE.search(row)
            if m:
                b["opponent_url"] = f"https://boxrec.com{m.group(1)}"
                b["opponent_id"], b["opponent_name"] = m.group(2), _clean(m.group(3))
            m = _WLD_RE.search(row)
            if m:
                b["opponent_record"] = "-".join(m.groups())
            m = _WEIGHT_RE.search(row)
            if m and m.group(1):
                b["opponent_weight"] = m.group(1)
            form = "".join(x[-1].upper() for x in _FORM_IMG_RE.findall(row))
            b["recent_form"] = form or None
            if len(cells) >= 6:
                venue = _clean(cells[5])
                b["venue"] = venue or None
            m = _BOUTRESULT_RE.search(row)
            if m:
                raw = m.group(1).strip()
                head = raw.split()[0].upper() if raw.split() else ""
                b["result"] = _RESULT_CODES.get(head)
                for meth in _METHODS:
                    if meth.lower() in raw.lower():
                        b["result_method"] = meth
                        break
                tail = re.search(r"(\d+)\s*$", raw)
                if tail:
                    b["result_round"] = int(tail.group(1))
            stars = len(_STAR_RE.findall(row))
            b["rating"] = stars if stars > 0 else None
            m = _EVENT_RE.search(row)
            if m:
                b["event_id"] = m.group(2)
                b["event_link"] = f"https://boxrec.com{m.group(1)}"
            m = _BOUTLINK_RE.search(row)
            if m:
                b["bout_ref_id"] = m.group(2)
                b["bout_link"] = f"https://boxrec.com{m.group(1)}"
            m = _SCORECARD_RE.search(row)
            if m:
                b["scorecards_link"] = f"https://boxrec.com{m.group(1)}"
            b["titles"] = [_clean(t) or slug for slug, t in _TITLELINK_RE.findall(row)]
            last_kept = bool(b["bout_date"] and b["opponent_name"])
            if last_kept:
                out.append(b)
    return out


#: extractor-name → staging-column rename map, pinned by the reference's
#: contract test (``boxing/tests/load/test_to_staging_mirror_db.py:9-79``:
#: ``opponent_name→opponent``, ``venue→location``).
BOUT_STAGING_RENAMES = {"opponent_name": "opponent", "venue": "location"}


def bouts_to_staging(bouts: Column) -> Column:
    """Rename bout-struct fields to their staging names (the reference's
    loader field map) without leaving the array — one `transform`."""
    fields = [f.name for f in BOUT_SCHEMA.elementType.fields]
    return F.transform(
        bouts,
        lambda b: F.struct(
            *[b[f].alias(BOUT_STAGING_RENAMES.get(f, f)) for f in fields]
        ),
    )


def bouts_to_staging_json(boxer_id: Column, bouts: Column) -> Column:
    """Build the reference's 22-field camelCase bout objects — the loader's
    JSON shape (``boxing/load/to_staging_mirror_db.py:86-121``): per-bout
    unique id from the positional index (``bout_id.py:4-12``), judges[0..2]
    flattened to ``judgeNName``/``judgeNScore``, ``titleFight`` =
    non-empty titles, event/bout/scorecard page links. One JVM ``transform``
    with index — no explode, no Python."""
    from data_pipelines_spark.functions.normalize import bout_id as _bout_id

    def jf(b: Column, i: int, part: str) -> Column:
        # try_element_at: fewer judges than 3 → NULL, not an ANSI error
        j = F.try_element_at(b["judges"], F.lit(i))
        return j[part].alias(f"judge{i}{part.capitalize()}")

    return F.transform(
        bouts,
        lambda b, i: F.struct(
            boxer_id.alias("boxerId"),
            _bout_id(boxer_id, i).alias("boutId"),
            b["bout_ref_id"].alias("boxrecId"),
            b["bout_date"].alias("boutDate"),
            b["opponent_name"].alias("opponentName"),
            b["opponent_weight"].alias("opponentWeight"),
            b["opponent_record"].alias("opponentRecord"),
            b["venue"].alias("eventName"),
            b["referee_name"].alias("refereeName"),
            jf(b, 1, "name"), jf(b, 1, "score"),
            jf(b, 2, "name"), jf(b, 2, "score"),
            jf(b, 3, "name"), jf(b, 3, "score"),
            F.lit(None).cast("int").alias("numRoundsScheduled"),
            b["result"].alias("result"),
            b["result_method"].alias("resultMethod"),
            b["result_round"].alias("resultRound"),
            b["event_link"].alias("eventPageLink"),
            b["bout_link"].alias("boutPageLink"),
            b["scorecards_link"].alias("scorecardsPageLink"),
            (F.size(b["titles"]) > 0).alias("titleFight"),
        ),
    )


#: the fields the amateur page owns in the merged record — the reference's
#: amateur dict keys that ``.update()`` onto the pro record
#: (``to_staging_mirror_db.py:216-238``)
AMATEUR_FIELDS = [
    f.name
    for f in PAGE_FIELDS_SCHEMA.fields
    if f.name.startswith("am_") or f.name.endswith("_amateur")
]


def merge_competition_levels(
    df, id_col: str = "boxer_id", level_col: str = "level",
    fields_col: str = "fields", mode: str = "amateur_fields",
):
    """§3.1 pro/amateur pairing + merge: one combined record per boxer.

    The reference groups lake rows by boxer, pairs the 'professional' and
    'amateur' pages, extracts both, and dict-merges the amateur record onto
    the pro one with a ``has_amateur_record`` flag
    (``to_staging_mirror_db.py:199-247``). Spark-native form: the J3
    ``pivot('level')`` pairing followed by column-level coalesce. One
    shuffle (the pivot groupBy), no ``applyInPandas`` needed.

    Two merge policies, selectable by ``mode``:

    - ``"amateur_fields"`` (default): only the amateur-owned field family
      (``am_*`` / ``*_amateur``) merges over; the pro page wins everything
      else. This implements the intent the reference's comment states
      ("Amateur extractors already have _amateur suffix").
    - ``"reference"``: the reference's literal ``pro_data.update(
      amateur_data)`` (``:224-226``) — EVERY field the amateur page
      extracted non-NULL overwrites the pro value (the orchestrator drops
      None values before the update, ``orchestrator.py:86-89``, so the
      Spark analog is an all-field ``coalesce(amateur, pro)``). Provided
      so a migration user can reproduce the reference's behavior exactly,
      even where its code contradicts its own comment.
    """
    p = (
        df.groupBy(id_col)
        .pivot(level_col, ["professional", "amateur"])
        .agg(F.first(fields_col))
    )
    pro, am = F.col("professional"), F.col("amateur")
    merged = F.struct(
        *[c.alias(n) for n, c in _merged_record_cols(pro, am, mode).items()]
    )
    return p.select(
        F.col(id_col),
        merged.alias("record"),
        am.isNotNull().alias("has_amateur_record"),
    )


def _merged_record_cols(
    pro: Column, am: Column, mode: str = "amateur_fields"
) -> dict[str, Column]:
    """The single definition of the merge policy shared by
    ``merge_competition_levels`` and ``build_staging_records`` — see the
    former's docstring for the two modes."""
    if mode not in ("amateur_fields", "reference"):
        raise ValueError(
            f"mode must be 'amateur_fields' or 'reference', got {mode!r}"
        )
    if mode == "reference":
        return {
            f.name: F.coalesce(am[f.name], pro[f.name])
            for f in PAGE_FIELDS_SCHEMA.fields
        }
    return {
        f.name: (
            F.coalesce(am[f.name], pro[f.name])
            if f.name in AMATEUR_FIELDS
            else pro[f.name]
        )
        for f in PAGE_FIELDS_SCHEMA.fields
    }


def build_staging_records(
    pages, url_col: str = "url", html_col: str = "html",
    bio=None, as_of: str | None = None,
) -> "DataFrame":
    """The reference's §3.1 load path (steps 3-6) as ONE declarative plan:

    id + competition level from the URL (F8/F9) → wide-struct and bout
    extraction, one UDF pass each (the orchestrator analog) → pro/amateur
    pivot + amateur-family merge with ``has_amateur_record`` (J3) → slug
    (F5), NULL-guarded derived totals (A7,
    ``to_staging_mirror_db.py:170,181``), and the bout list flattened to
    the loader's camelCase objects with positional unique ids (F4/W3) —
    the FULL 45-column ``boxers`` shape of the reference INSERT
    (``to_staging_mirror_db.py:125-139``), nested array instead of
    JSON-in-TEXT for ``bouts``. Bout history comes from the pro page
    (amateur fallback).

    - ``boxrecUrl``: the pro page's URL (amateur fallback) — the
      reference's ``pro_data['url'] = pro_url`` (``:215``).
    - ``boxrecWikiUrl``: harvested JVM-side from the page's
      ``/wiki/index.php?title=Human:`` anchor (the reference lists an
      ``extract_boxrec_wiki_url`` extractor but ships no implementation;
      the wiki-link shape comes from ``fields/avatar_image.py:34``).
    - ``bio``: the J5 broadcast side-input with CSV-over-extracted
      precedence (``:75`` — ``self.bio_data.get(id, extracted)``); pass a
      (boxrec_id, bio) DataFrame. The reference ships no page-level bio
      extractor either, so the extracted fallback is NULL.
    - ``createdAt``/``updatedAt``: the reference stamps
      ``datetime.now()`` (``:184-185``); this engine is replay-
      deterministic by invariant, so the caller passes ``as_of``
      explicitly (NULL timestamps when omitted).
    """
    from data_pipelines_spark.functions.normalize import normalize_id, slugify

    boxer_id = normalize_id(
        F.regexp_extract(F.col(url_col), r"/box-(?:pro|am)/(\d+)", 1)
    )
    level = F.when(F.col(url_col).contains("box-am"), F.lit("amateur")).otherwise(
        F.lit("professional")
    )
    wiki_path = F.regexp_extract(
        F.col(html_col).cast("string"),
        r'href="(/wiki/index\.php\?title=Human:\d+)"', 1,
    )
    extracted = pages.select(
        boxer_id.alias("boxer_id"),
        level.alias("level"),
        extract_page_fields(F.col(html_col)).alias("fields"),
        extract_bouts(F.col(html_col)).alias("bouts"),
        F.col(url_col).alias("page_url"),
        F.when(
            wiki_path != "", F.concat(F.lit("https://boxrec.com"), wiki_path)
        ).alias("wiki_url"),
    )
    p = (
        extracted.groupBy("boxer_id")
        .pivot("level", ["professional", "amateur"])
        .agg(
            F.first("fields").alias("f"),
            F.first("bouts").alias("b"),
            F.first("page_url").alias("u"),
            F.first("wiki_url", ignorenulls=True).alias("w"),
        )
    )
    if bio is not None:
        p = p.join(
            F.broadcast(
                bio.select(
                    F.col("boxrec_id").alias("boxer_id"),
                    F.col("bio").alias("_bio_csv"),
                )
            ),
            "boxer_id",
            "left",
        )
    else:
        p = p.withColumn("_bio_csv", F.lit(None).cast("string"))
    rec = _merged_record_cols(F.col("professional_f"), F.col("amateur_f"))

    def total(w, l, d):
        return F.when(
            w.isNotNull() & l.isNotNull() & d.isNotNull(), w + l + d
        ).cast("int")

    bouts = F.coalesce(F.col("professional_b"), F.col("amateur_b"))
    stamp = (
        F.lit(as_of).cast("timestamp")
        if as_of is not None
        else F.lit(None).cast("timestamp")
    )
    return p.select(
        F.col("boxer_id").alias("boxrecId"),
        F.coalesce(F.col("professional_u"), F.col("amateur_u")).alias("boxrecUrl"),
        F.coalesce(F.col("professional_w"), F.col("amateur_w")).alias(
            "boxrecWikiUrl"
        ),
        slugify(rec["name"]).alias("slug"),
        rec["name"].alias("name"),
        rec["birth_name"].alias("birthName"),
        rec["nicknames"].alias("nicknames"),
        rec["avatar_image"].alias("avatarImage"),
        rec["residence"].alias("residence"),
        rec["birth_place"].alias("birthPlace"),
        rec["birth_date"].alias("dateOfBirth"),
        rec["gender"].alias("gender"),
        rec["nationality"].alias("nationality"),
        rec["height_cm"].alias("height"),
        rec["reach_cm"].alias("reach"),
        rec["stance"].alias("stance"),
        # CSV wins; the extracted fallback is NULL because the reference
        # ships no bio page-extractor (orchestrator never sets the key)
        F.col("_bio_csv").alias("bio"),
        rec["promoters"].alias("promoters"),
        rec["trainers"].alias("trainers"),
        rec["managers"].alias("managers"),
        rec["gym"].alias("gym"),
        rec["debut_date_pro"].alias("proDebutDate"),
        rec["division"].alias("proDivision"),
        rec["pro_wins"].alias("proWins"),
        rec["pro_ko_wins"].alias("proWinsByKnockout"),
        rec["pro_losses"].alias("proLosses"),
        rec["pro_ko_losses"].alias("proLossesByKnockout"),
        rec["pro_draws"].alias("proDraws"),
        rec["status"].alias("proStatus"),
        total(rec["pro_wins"], rec["pro_losses"], rec["pro_draws"]).alias(
            "proTotalBouts"
        ),
        rec["rounds_pro"].alias("proTotalRounds"),
        rec["debut_date_amateur"].alias("amateurDebutDate"),
        rec["division_amateur"].alias("amateurDivision"),
        rec["am_wins"].alias("amateurWins"),
        rec["am_ko_wins"].alias("amateurWinsByKnockout"),
        rec["am_losses"].alias("amateurLosses"),
        rec["am_ko_losses"].alias("amateurLossesByKnockout"),
        rec["am_draws"].alias("amateurDraws"),
        rec["status_amateur"].alias("amateurStatus"),
        total(rec["am_wins"], rec["am_losses"], rec["am_draws"]).alias(
            "amateurTotalBouts"
        ),
        rec["rounds_amateur"].alias("amateurTotalRounds"),
        F.col("amateur_f").isNotNull().alias("hasAmateurRecord"),
        bouts_to_staging_json(F.col("boxer_id"), bouts).alias("bouts"),
        stamp.alias("createdAt"),
        stamp.alias("updatedAt"),
    )


@F.pandas_udf(BOUT_SCHEMA)
def extract_bouts(html: pd.Series) -> pd.Series:
    """Vectorized UDTF analog: page → array of bout structs; pair with
    ``posexplode`` for (bout index, struct) rows — the reference's 1→N
    ``bouts`` extractor plus ``generate_unique_bout_id`` positional index
    (``boxing/load/to_staging_mirror_db.py:81-83``)."""
    return html.map(_bouts_one)


# ---------------------------------------------------------------------------
# URL-harvest UDTF: page → event + opponent URL arrays (the work-queue feed)
# ---------------------------------------------------------------------------

HARVEST_SCHEMA = T.StructType(
    [
        T.StructField("event_urls", T.ArrayType(T.StringType())),
        T.StructField("opponent_urls", T.ArrayType(T.StringType())),
    ]
)

_EVENT_HREF_RE = re.compile(r'href="(/[a-z]{2}/event/\d+[^"]*)"')
_OPP_HREF_RE = re.compile(r'<a class="personLink" href="(/en/box-pro/\d+[^"]*)"')


def _harvest_one(html: bytes | str | None) -> dict:
    """Reference URL harvesters: event links anywhere on the page
    (``boxing/extract/page/boxer/urls/bout_urls.py:14-30`` —
    ``/{lang}/event/{id}`` hrefs), opponent ``personLink`` anchors inside
    dataTable fight tables matching ``/en/box-pro/{id}``
    (``opponent_urls.py:15-35``). Sets → sorted arrays (deterministic),
    relative hrefs prefixed with the absolute domain."""
    if html is None:
        return {"event_urls": [], "opponent_urls": []}
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    events = {f"https://boxrec.com{h}" for h in _EVENT_HREF_RE.findall(html)}
    opponents: set[str] = set()
    for tbl in _DATATABLE_RE.findall(html):
        for h in _OPP_HREF_RE.findall(tbl):
            opponents.add(f"https://boxrec.com{h}")
    return {"event_urls": sorted(events), "opponent_urls": sorted(opponents)}


@F.pandas_udf(HARVEST_SCHEMA)
def harvest_urls(html: pd.Series) -> pd.DataFrame:
    """One parse per page → both URL families; ``explode`` the array you
    need and anti-join against the seen-set (J7) to get the new-work feed."""
    return pd.DataFrame(list(html.map(_harvest_one)))


def harvest_new_urls(
    pages, seen, url_kind: str = "opponent_urls", html_col: str = "html",
    seen_col: str = "url",
):
    """Composed harvest → explode → distinct → seen-set anti-join (J7):
    the reference's 'add new opponent/bout URLs not already in the CSV'
    (``opponent_urls.py:41-56``, ``bout_urls.py:36-49``) as three operators.
    ``seen`` is expected to be small relative to the corpus (a work queue),
    so it broadcasts; at larger sizes drop the hint and let AQE pick."""
    harvested = (
        pages.select(F.explode(harvest_urls(F.col(html_col))[url_kind]).alias("url"))
        .distinct()
    )
    return harvested.join(
        F.broadcast(seen.select(F.col(seen_col).alias("url"))), "url", "left_anti"
    )


# ---------------------------------------------------------------------------
# Validation predicates (P2-P7) — JVM-side, no Python
# ---------------------------------------------------------------------------

#: reference ``boxing/validators/error_page.py:6-31``
ERROR_INDICATORS = [
    "404 Not Found", "Page Not Found", "Error 404", "403 Forbidden",
    "Access Denied", "500 Internal Server Error", "502 Bad Gateway",
    "503 Service Unavailable",
]
#: reference ``boxing/validators/login_page.py:6-31`` (title-wrapped variants
#: are subsumed by substring containment)
LOGIN_INDICATORS = [
    "Boxrec: Login", "BoxRec: Login", "Please login to BoxRec",
    "/en/login?error=limit", "Login - BoxRec",
]
#: reference ``boxing/validators/rate_limit.py:6-30`` (matched lowercase)
RATELIMIT_INDICATORS = [
    "rate limit", "too many requests", "temporarily blocked",
    "please try again later", "exceeded the rate limit", "slow down",
]
#: reference ``boxing/validators/blank_page.py:47-54``
MAINTENANCE_INDICATORS = [
    "under maintenance", "coming soon", "be right back",
    "temporarily unavailable", "service unavailable", "please try again later",
]
#: reference ``boxing/validators/page/boxer.py:6-31``
BOXER_PAGE_MARKERS = ["profileTable", "dataTable", "boutList", "profileWLD"]


def _contains_any(col: Column, needles: list[str], lower: bool = False) -> Column:
    src = F.lower(col) if lower else col
    cond = F.lit(False)
    for n in needles:
        cond = cond | src.contains(n.lower() if lower else n)
    return cond


def validation_reason(html_text: Column, min_bytes: int = 1000) -> Column:
    """First-failure-wins quarantine reason; NULL = page is valid.

    Spark-native form of the short-circuit validator chain
    (``boxing/run_validators.py:39-76``): a single chained CASE expression —
    cheap predicates first — evaluated JVM-side, no Python. Covers P2-P4;
    :func:`page_validation_reason` adds the P5-P7 tail.
    """
    return (
        F.when(F.length(html_text) < min_bytes, F.lit("too_small"))
        .when(_contains_any(html_text, ERROR_INDICATORS), F.lit("error_page"))
        .when(_contains_any(html_text, LOGIN_INDICATORS), F.lit("login_page"))
        .when(_contains_any(html_text, RATELIMIT_INDICATORS, lower=True), F.lit("rate_limited"))
        .otherwise(F.lit(None).cast("string"))
    )


def stripped_text(html: Column) -> Column:
    """JVM-side script/style-stripped visible text (regex tag strip +
    whitespace collapse) — the column-expression analog of
    ``blank_page.py:27-32``'s decompose+get_text, used where the pandas UDF
    would be overkill (a validity predicate, not the byte-exact ``text``)."""
    no_blocks = F.regexp_replace(
        html, r"(?is)<(script|style|noscript|template)\b[^>]*>.*?</\1\s*>", " "
    )
    no_tags = F.regexp_replace(
        F.regexp_replace(no_blocks, r"(?s)<!--.*?-->", " "), r"<[^>]*>", " "
    )
    return F.trim(F.regexp_replace(no_tags, r"\s+", " "))


def page_validation_reason(
    html: Column, url: Column | None = None, min_bytes: int = 1000
) -> Column:
    """The FULL validator chain P2→P7, first failure wins, NULL = valid.

    Order mirrors ``boxing/run_validators.py:39-76`` (cheap checks first):

    - P3 size (``file_size.py``), P4 error/login/rate-limit substrings;
    - P7 URL validity when ``url`` given (``boxrec_url.py:10-31``: boxrec.com
      netloc + non-root path);
    - P5 blank-page heuristic (``blank_page.py:12-80``): stripped text ≥50
      chars, a ``<body>`` whose text ≥20 chars, no maintenance phrases, and
      a main/article/section tag or some >100-char content block;
    - P6 boxer-page-type markers (``page/boxer.py:6-31``).

    All regex/contains Column expressions — whole-stage codegen, no UDF.
    """
    text = stripped_text(html)
    body = F.regexp_extract(html, r"(?is)<body[^>]*>(.*?)</body>", 1)
    body_text = stripped_text(body)
    has_main = html.rlike(r"(?i)<(main|article|section)\b")
    # >100 chars of uninterrupted text inside some element — the JVM-side
    # stand-in for the reference's "a div with >100 chars of text"
    has_big_block = html.rlike(r"(?s)>[^<>]{101,}<")
    marker = F.lit(False)
    for mk in BOXER_PAGE_MARKERS:
        marker = marker | html.contains(f'class="{mk}"') | html.contains(f"class='{mk}'")
    chain = (
        F.when(html.isNull() | (F.length(F.trim(html)) == 0), F.lit("empty"))
        .when(F.length(html) < min_bytes, F.lit("too_small"))
        .when(_contains_any(html, ERROR_INDICATORS), F.lit("error_page"))
        .when(_contains_any(html, LOGIN_INDICATORS), F.lit("login_page"))
        .when(_contains_any(html, RATELIMIT_INDICATORS, lower=True), F.lit("rate_limited"))
    )
    if url is not None:
        bad_url = ~url.rlike(r"^https?://(www\.)?boxrec\.com/.+")
        chain = chain.when(bad_url, F.lit("bad_url"))
    chain = (
        chain.when(F.length(text) < 50, F.lit("blank_minimal"))
        .when(~html.rlike(r"(?i)<body\b"), F.lit("blank_no_body"))
        .when(F.length(body_text) < 20, F.lit("blank_body"))
        .when(_contains_any(text, MAINTENANCE_INDICATORS, lower=True), F.lit("maintenance"))
        .when(~has_main & ~has_big_block, F.lit("blank_no_content"))
        .when(~marker, F.lit("not_boxer_page"))
    )
    return chain.otherwise(F.lit(None).cast("string"))
