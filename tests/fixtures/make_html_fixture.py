"""Generate html_pages.parquet — handcrafted HTML + HAND-WRITTEN
expected extraction results (independent of the implementation; the
expectations below were written from the documented heuristics:
min_text_len=25, max_link_density=0.33, drop script/style/head/comment
content, block tags segment, short headings kept above content).

Run once: python tests/fixtures/make_html_fixture.py
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq

LONG_A = (
    "The migration finished ahead of schedule because the team "
    "staged the copy in three rounds and verified checksums at "
    "every step of the process."
)
LONG_B = (
    "Partition pruning cut the scan from nine hundred files to "
    "eleven, which is why the nightly job now completes before the "
    "reporting window opens."
)

PAGES = [
    # 1: plain paragraph with head/script/style/nav/footer boilerplate
    (
        1,
        "<html><head><title>T</title><script>var a=1<2;</script>"
        "<style>p{color:red}</style></head><body>"
        '<nav><a href="/">Home</a> <a href="/x">More</a></nav>'
        f"<p>{LONG_A}</p>"
        '<footer><a href="/p">Privacy</a></footer></body></html>',
        LONG_A,
    ),
    # 2: heading kept above content; comment dropped; entity unescaped
    (
        2,
        "<h2>Release notes</h2><!-- internal note: draft -->"
        f"<p>Fast &amp; correct: {LONG_B}</p>",
        f"Release notes\nFast & correct: {LONG_B}",
    ),
    # 3: heading above a link rail is boilerplate (not followed by content)
    (
        3,
        "<h3>See also</h3><ul>"
        '<li><a href="/a">First related article</a></li>'
        '<li><a href="/b">Second related article</a></li></ul>'
        f"<div>{LONG_A}</div>",
        LONG_A,
    ),
    # 4: table cells are blocks; short cells dropped, long cell kept
    (
        4,
        f"<table><tr><td>id</td><td>{LONG_B}</td></tr></table>",
        LONG_B,
    ),
    # 5: malformed nesting (unclosed p, stray </div>) still extracts
    (
        5,
        f"<div><p>{LONG_A}</div></p><p>{LONG_B}",
        f"{LONG_A}\n{LONG_B}",
    ),
    # 6: <br> is an intra-block space, whitespace collapses
    (
        6,
        "<p>Line one of the announcement,<br>line two of   the\n"
        "announcement, both in one block.</p>",
        "Line one of the announcement, line two of the announcement, "
        "both in one block.",
    ),
    # 7: no markup at all — long plain text passes through
    (7, LONG_B, LONG_B),
    # 8: nothing extractable (all boilerplate / too short)
    (
        8,
        '<div><a href="/">Home page link text</a></div><p>tiny</p>'
        "<script>ignore()</script>",
        "",
    ),
    # 9: mixed-density block: 'Share Tweet Pin' rail dropped, inline
    # link inside long prose kept (low link density)
    (
        9,
        '<div><a href="/s">Share</a> <a href="/t">Tweet</a> '
        '<a href="/p">Pin</a></div>'
        f'<p>As noted in <a href="/ref">the earlier report</a>, '
        f"{LONG_A}</p>",
        f"As noted in the earlier report, {LONG_A}",
    ),
    # 10: noscript/template/svg content dropped, figcaption kept if long
    (
        10,
        "<noscript>enable javascript</noscript>"
        "<template><p>never rendered template body here</p></template>"
        "<svg><text>vector label</text></svg>"
        f"<figure><figcaption>{LONG_B}</figcaption></figure>",
        LONG_B,
    ),
]


def main() -> None:
    t = pa.table(
        {
            "page_id": pa.array([p[0] for p in PAGES], pa.int64()),
            "html": pa.array([p[1] for p in PAGES], pa.string()),
            "expected_text": pa.array([p[2] for p in PAGES], pa.string()),
        }
    )
    here = os.path.dirname(os.path.abspath(__file__))
    pq.write_table(t, os.path.join(here, "html_pages.parquet"))
    print("wrote", len(PAGES), "pages")


if __name__ == "__main__":
    main()
