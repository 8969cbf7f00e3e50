from doc_ocr_spark.core.layout import (
    cluster_lines,
    detect_columns,
    merge_tokens,
    page_bounds,
    reading_order_lines,
    region_filter,
)
from doc_ocr_spark.core.tokens import Token


def T(text, x1, y1, x2=None, y2=None, page=1):
    return Token(text, x1, y1, x2 if x2 is not None else x1 + 7 * len(text),
                 y2 if y2 is not None else y1 + 12, page)


def test_cluster_lines_groups_by_y():
    toks = [T("a", 0, 0), T("b", 30, 2), T("c", 0, 40), T("d", 30, 41)]
    lines = cluster_lines(toks, y_tol=5.0)
    assert len(lines) == 2
    assert lines[0].text == "a b"
    assert lines[1].text == "c d"


def test_cluster_lines_page_break_stops_scan():
    toks = [T("a", 0, 10, page=1), T("b", 0, 10, page=2)]
    lines = cluster_lines(toks, y_tol=100.0)
    assert len(lines) == 2


def test_cluster_running_mean_centroid():
    # joining updates centroid as pairwise mean — (10 + 14)/2 = 12
    toks = [T("a", 0, 4, y2=16), T("b", 30, 8, y2=20)]
    lines = cluster_lines(toks, y_tol=5.0)
    assert len(lines) == 1
    assert lines[0].y_center == 12.0


def test_merge_tokens_gap_and_union_bbox():
    toks = [T("合", 40, 0, 52), T("计", 56, 0, 68), T("far", 200, 0)]
    merged = merge_tokens(toks, max_x_gap=6.0)
    assert [t.text for t in merged] == ["合计", "far"]
    assert merged[0].x1 == 40 and merged[0].x2 == 68


def test_merge_tokens_zero_gap_disables_merging():
    """Reference semantics (text_normalize.py:138-141): max_x_gap <= 0
    means merging is OFF — even touching tokens stay separate (round 1
    merged at gap 0, a divergence in a byte-identity operator)."""
    touching = [T("ab", 0, 0, 10), T("cd", 10, 0, 20)]
    assert [t.text for t in merge_tokens(touching, max_x_gap=0.0)] == ["ab", "cd"]
    assert [t.text for t in merge_tokens(touching, max_x_gap=-1.0)] == ["ab", "cd"]
    assert [t.text for t in merge_tokens(touching, max_x_gap=0.5)] == ["abcd"]


def test_merge_single_char_gate():
    toks = [T("abc", 0, 0, 21), T("def", 24, 0, 45)]
    assert len(merge_tokens(toks, max_x_gap=6.0, merge_single_char=True)) == 2
    assert len(merge_tokens(toks, max_x_gap=6.0, merge_single_char=False)) == 1


def test_page_bounds_floor():
    assert page_bounds([]) == (1.0, 1.0)
    assert page_bounds([T("x", 0, 0, 50, 20)]) == (50.0, 20.0)


def test_region_filter_center_containment():
    toks = [T("in", 10, 10, 20, 20), T("out", 90, 90, 100, 100)]
    kept = region_filter(toks, (0.0, 0.0, 0.5, 0.5), (100.0, 100.0))
    assert [t.text for t in kept] == ["in"]


def test_detect_columns_two_column_page():
    toks = []
    for y in range(0, 200, 20):
        toks.append(T("left", 10, y, 100))
        toks.append(T("right", 300, y, 390))
    split = detect_columns(toks, min_gap=24.0)
    assert split.n_columns == 2
    assert 100 < split.boundaries[0] < 300


def test_detect_columns_gated_off_when_straddled():
    toks = []
    for y in range(0, 200, 20):
        toks.append(T("left", 10, y, 100))
        toks.append(T("right", 300, y, 390))
        toks.append(T("wide-straddling-token", 50, y, 350))
    assert detect_columns(toks, min_gap=24.0).n_columns == 1


def test_reading_order_left_column_first():
    toks = [
        T("L1", 10, 0, 60), T("L2", 10, 20, 60),
        T("R1", 300, 0, 350), T("R2", 300, 20, 350),
    ]
    lines = reading_order_lines(toks)
    assert [l.text for l in lines] == ["L1", "L2", "R1", "R2"]
