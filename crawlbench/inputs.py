"""Seeded input generators. The seed fixes every shape and string; the
program under test only ever receives the generated tables.

- ``listing_site``: a paginated PBC-style listing site in the default
  dialect whose entries carry real attachment bytes (docx zip, PDF with a
  Flate content stream, html detail pages).
- ``catalog``: a policy catalog (entries, documents, texts) whose topic words
  each occur in a few dozen titles, so keyword queries stay selective.
"""

from __future__ import annotations

import io
import random
import zipfile
import zlib

# Characters for topic words: common regulatory vocabulary, no punctuation.
_CJK_POOL = (
    "支付结算清算账户存款贷款信贷征信利率汇率外汇跨境资金票据债券证券基金保险"
    "理财信托租赁担保融资授信风险合规审计监测统计报送评估披露备案登记核准许可"
    "机构网点柜台渠道平台系统数据信息安全科技电子移动现金货币黄金市场交易托管"
    "反洗钱恐怖融资消费者权益投诉纠纷调解普惠小微农村绿色养老住房"
)
_AGENCIES = ["中国人民银行", "国家外汇管理局", "中国人民银行办公厅", "中国银保监会"]
_DOCTYPES = ["通知", "管理办法", "实施细则", "暂行规定", "意见", "决定"]
_VERBS = ["加强", "规范", "完善", "推进", "做好", "优化"]
_ASCII_WORDS = ["payment", "clearing", "account", "deposit", "credit", "reserve",
                "settlement", "custody", "reporting", "liquidity", "exchange", "audit"]
_NUMERALS = "一二三四五六七八九十"


def topic_words(rng: random.Random, n: int, length: int = 4) -> list[str]:
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(_CJK_POOL) for _ in range(length))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


# --- documents ----------------------------------------------------------------


def docx_bytes(paragraphs: list[str]) -> bytes:
    body = "".join(f"<w:p><w:r><w:t>{p}</w:t></w:r></w:p>" for p in paragraphs)
    xml = (
        "<?xml version='1.0' encoding='UTF-8' standalone='yes'?>\n"
        "<w:document xmlns:w='http://schemas.openxmlformats.org/wordprocessingml/2006/main'>"
        f"<w:body>{body}</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", xml)
    return buf.getvalue()


def pdf_bytes(lines: list[str]) -> bytes:
    """One-page PDF, Helvetica text lines in a FlateDecode content stream."""
    ops = ["BT", "/F1 12 Tf", "72 720 Td"]
    for ln in lines:
        esc = ln.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        ops += [f"({esc}) Tj", "0 -16 Td"]
    ops.append("ET")
    stream = zlib.compress(("\n".join(ops) + "\n").encode("latin-1"))
    return b"".join([
        b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n",
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>\nendobj\n",
        b"4 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>\nendobj\n",
        f"5 0 obj\n<< /Length {len(stream)} /Filter /FlateDecode >>\nstream\n".encode(),
        stream,
        b"\nendstream\nendobj\n",
        b"trailer\n<< /Root 1 0 R /Size 6 >>\nstartxref\n0\n%%EOF\n",
    ])


# --- listing sites ------------------------------------------------------------


def _page_name(p: int) -> str:
    return "index.html" if p == 0 else f"index_{p}.html"


def listing_site(rng: random.Random, host: str, n_pages: int, entries_per_page: int):
    """(site url -> str|bytes, start_url). Every entry has a detail page;
    three rows in four also link a PDF and three detail pages in four a docx
    attachment."""
    base = f"https://{host}"
    topics = topic_words(rng, n_pages * entries_per_page)
    site: dict[str, str | bytes] = {}
    for p in range(n_pages):
        rows = []
        # a fixed share of rows link a PDF and of detail pages a docx; the seed
        # picks which, so the document count is the same for every seed
        with_pdf = set(rng.sample(range(entries_per_page), (3 * entries_per_page) // 4))
        with_docx = set(rng.sample(range(entries_per_page), (3 * entries_per_page) // 4))
        for i in range(entries_per_page):
            serial = p * entries_per_page + i + 1
            topic = topics[serial - 1]
            title = f"{rng.choice(_AGENCIES)}关于{rng.choice(_VERBS)}{topic}工作的{rng.choice(_DOCTYPES)}"
            cells = [
                f"<td>{serial}</td>",
                f"<td><a href='/list/detail_{serial}.html' title='{title}'>{title}</a></td>",
            ]
            if i in with_pdf:
                cells.append(f"<td><a href='/files/doc_{serial}.pdf'>附件下载</a></td>")
                words = [rng.choice(_ASCII_WORDS) for _ in range(6)]
                site[f"{base}/files/doc_{serial}.pdf"] = pdf_bytes(
                    [f"Notice {serial} on {' '.join(words[:3])}"]
                    + [f"Article {k + 1}: {words[k % 6]} rules apply to item {serial}." for k in range(3)]
                )
            cells.append(f"<td class='gz_tit2'>2024-{(serial % 12) + 1:02d}-{(serial % 28) + 1:02d}</td>")
            rows.append("<tr>" + "".join(cells) + "</tr>")
            detail = [f"<html><body><h1>{title}</h1>"]
            detail += [f"<p>第{_NUMERALS[k]}条 {topic}相关机构应当依法开展业务，编号{serial}-{k}。</p>"
                       for k in range(rng.randint(2, 4))]
            if i in with_docx:
                detail.append(f"<a href='/files/att_{serial}.docx'>{topic}附件</a>")
                site[f"{base}/files/att_{serial}.docx"] = docx_bytes(
                    [title] + [f"第{_NUMERALS[k]}条 {topic}事项说明第{k + 1}款。" for k in range(3)]
                )
            detail.append("</body></html>")
            site[f"{base}/list/detail_{serial}.html"] = "".join(detail)
        pag = []
        if p + 1 < n_pages:
            pag.append(f"<a href='/list/{_page_name(p + 1)}'>下一页</a>")
        if p > 0:
            pag.append(f"<a href='/list/{_page_name(p - 1)}'>上一页</a>")
        pag += [f"<a href='/list/{_page_name(q)}'>{q + 1}</a>" for q in range(n_pages)]
        site[f"{base}/list/{_page_name(p)}"] = (
            "<html><body><table>" + "".join(rows) + "</table><div class='list_page'>"
            + "".join(pag) + "</div></body></html>"
        )
    return site, f"{base}/list/index.html"


# --- policy catalog -----------------------------------------------------------


def catalog(rng: random.Random, n_entries: int, per_topic: int = 20):
    """(entries, documents, texts, topics) as row lists.

    entries   (entry_id, task, serial, title, remark)
    documents (entry_id, url, doc_type, title, _src_pos)
    texts     (entry_id, text)
    Titles are unique; each topic word sits in ~``per_topic`` titles and in
    the texts of the same entries only."""
    topics = topic_words(rng, max(1, n_entries // per_topic))
    entries, documents, texts = [], [], []
    for i in range(n_entries):
        eid = f"e{i:06d}"
        topic = topics[i % len(topics)]
        year = 2010 + rng.randrange(15)
        title = (
            f"{rng.choice(_AGENCIES)}关于{rng.choice(_VERBS)}{topic}管理的"
            f"{rng.choice(_DOCTYPES)}（银发〔{year}〕{i + 1}号）"
        )
        entries.append((eid, f"task{i % 3}", i + 1, title, f"{year}年发布"))
        documents.append((eid, f"https://www.pbc.test/files/{eid}.pdf", "pdf", "正文", 2 * i))
        documents.append((eid, f"https://www.pbc.test/detail/{eid}.html", "html", "页面", 2 * i + 1))
        lines = [title]
        for a in range(rng.randint(3, 6)):
            lines.append(f"第{_NUMERALS[a]}条 {topic}业务应当遵守本办法，机构编号{i}-{a}。")
            for k in range(rng.randint(0, 2)):
                lines.append(f"（{_NUMERALS[k]}）落实第{_NUMERALS[a]}条第{k + 1}项要求。")
        texts.append((eid, "\n".join(lines)))
    return entries, documents, texts, topics
