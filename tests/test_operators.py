"""Golden unit tests per pure function (SURVEY.md §5 strategy, FIXTURES F4).

Each test pins observable semantics derived from the cited reference code —
box ordering, CTC collapse rules, separator rules, layout decisions."""

from __future__ import annotations

import numpy as np
import pytest

from ppocr_spark.config import PPOCRConfig


# ---------------------------------------------------------------------------
# PNG codec (S4/S5 decode analog)
# ---------------------------------------------------------------------------


class TestPng:
    def test_roundtrip(self):
        from ppocr_spark.png import decode, encode_gray

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, size=(37, 53), dtype=np.uint8)
        assert np.array_equal(decode(encode_gray(img)), img)

    def test_bad_signature(self):
        from ppocr_spark.png import PngError, decode

        with pytest.raises(PngError):
            decode(b"not a png at all")

    def test_truncated(self):
        from ppocr_spark.png import PngError, decode, encode_gray

        data = encode_gray(np.zeros((8, 8), dtype=np.uint8))
        with pytest.raises(PngError):
            decode(data[:20])

    def test_all_filters_decode(self):
        # synthesize a PNG with filters 1-4 via zlib re-pack
        import struct
        import zlib

        from ppocr_spark.png import decode

        w = h = 6
        rows = []
        base = np.arange(w, dtype=np.uint8)
        prev = np.zeros(w, dtype=np.int16)
        img_rows = []
        for r, f in enumerate([0, 1, 2, 3, 4, 2]):
            cur = (base * (r + 1) % 251).astype(np.int16)
            img_rows.append(cur.astype(np.uint8))
            if f == 0:
                enc = cur.copy()
            elif f == 1:
                enc = cur.copy()
                enc[1:] = (cur[1:] - cur[:-1]) % 256
            elif f == 2:
                enc = (cur - prev) % 256
            elif f == 3:
                enc = cur.copy()
                for i in range(w):
                    left = cur[i - 1] if i else 0
                    enc[i] = (cur[i] - ((left + prev[i]) >> 1)) % 256
            else:
                enc = cur.copy()
                for i in range(w):
                    a = cur[i - 1] if i else 0
                    b = prev[i]
                    c = prev[i - 1] if i else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    enc[i] = (cur[i] - pred) % 256
            rows.append(bytes([f]) + bytes(enc.astype(np.uint8)))
            prev = cur
        raw = zlib.compress(b"".join(rows))

        def chunk(tag, payload):
            body = tag + payload
            return (
                struct.pack(">I", len(payload))
                + body
                + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
            )

        data = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", raw)
            + chunk(b"IEND", b"")
        )
        out = decode(data)
        assert np.array_equal(out, np.stack(img_rows))


# ---------------------------------------------------------------------------
# geometry (D6/D7/D9 kernels)
# ---------------------------------------------------------------------------


class TestGeometry:
    def test_order_points_clockwise(self):
        # semantics of cpp/src/postprocess_op.cpp:82-99
        from ppocr_spark.geometry import order_points_clockwise

        quad = np.array([[10, 10], [0, 0], [10, 0], [0, 10]])
        out = order_points_clockwise(quad)
        assert out.tolist() == [[0, 0], [10, 0], [10, 10], [0, 10]]

    def test_min_area_rect_axis_aligned(self):
        from ppocr_spark.geometry import min_area_rect

        pts = np.array([[0, 0], [9, 0], [9, 4], [0, 4], [5, 2]])
        rect, sside = min_area_rect(pts)
        assert abs(sside - 4.0) < 1e-9
        xs = sorted(p[0] for p in rect)
        ys = sorted(p[1] for p in rect)
        assert xs == [0, 0, 9, 9] and ys == [0, 0, 4, 4]

    def test_min_area_rect_rotated(self):
        from ppocr_spark.geometry import min_area_rect

        # a 45°-rotated 10x2 bar
        t = np.linspace(0, 10, 21)
        pts = np.stack(
            [
                np.concatenate([t, t + np.sqrt(2)]),
                np.concatenate([t, t - np.sqrt(2)]),
            ],
            axis=1,
        )
        _, sside = min_area_rect(pts)
        assert abs(sside - 2.0) < 1e-6

    def test_unclip_distance(self):
        # area * ratio / perimeter (cpp/src/postprocess_op.cpp:37-50)
        from ppocr_spark.geometry import unclip_distance

        rect = np.array([[0, 0], [10, 0], [10, 4], [0, 4]], dtype=float)
        assert abs(unclip_distance(rect, 1.6) - (40 * 1.6 / 28)) < 1e-9

    def test_expand_rect(self):
        from ppocr_spark.geometry import expand_rect

        rect = np.array([[0, 0], [10, 0], [10, 4], [0, 4]], dtype=float)
        out = expand_rect(rect, 2.0)
        assert out.tolist() == [[-2, -2], [12, -2], [12, 6], [-2, 6]]

    def test_perspective_crop_identity(self):
        from ppocr_spark.geometry import perspective_crop

        img = np.arange(100, dtype=np.uint8).reshape(10, 10)
        quad = [[0, 0], [9, 0], [9, 9], [0, 9]]
        out = perspective_crop(img, quad)
        assert out.shape == (9, 9)

    def test_perspective_crop_vertical_rule(self):
        # h >= 1.5*w → transpose+flip (cpp/src/utility.cpp:163-221)
        from ppocr_spark.geometry import perspective_crop

        img = np.zeros((60, 40), dtype=np.uint8)
        quad = [[10, 5], [20, 5], [20, 50], [10, 50]]  # 10 wide, 45 tall
        out = perspective_crop(img, quad)
        assert out.shape[0] < out.shape[1]  # rotated to horizontal

    def test_connected_components(self):
        from ppocr_spark.geometry import connected_components

        m = np.zeros((10, 10), dtype=bool)
        m[1:3, 1:4] = True
        m[6:9, 5:8] = True
        m[3, 4] = True  # 8-connected diagonal touch to first blob
        comps = connected_components(m)
        assert len(comps) == 2
        sizes = sorted(len(c[0]) for c in comps)
        assert sizes == [7, 9]

    def test_run_form_bit_identity(self):
        # the det box path consumes components as row-run lists; every
        # quantity it derives from runs must match the materialized-pixel
        # formulation bit for bit (hull point SET, slow-score gather order,
        # fast-mode bbox) — random masks cover multi-run rows, single-pixel
        # components, and full/empty extremes
        from ppocr_spark.geometry import (
            connected_component_runs,
            connected_components,
            min_area_rect,
            row_extremes,
            run_row_extremes,
        )

        rng = np.random.RandomState(7)
        for _ in range(60):
            h, w = rng.randint(1, 40), rng.randint(1, 60)
            mask = rng.rand(h, w) < rng.choice([0.0, 0.15, 0.5, 1.0])
            prob = rng.rand(h, w).astype(np.float32)
            px = connected_components(mask)
            rn = connected_component_runs(mask)
            assert len(px) == len(rn)
            for (ys, xs), (rows, rxs, rxe) in zip(px, rn):
                assert np.array_equal(ys, np.repeat(rows, rxe - rxs))
                p1 = {tuple(p) for p in row_extremes(ys, xs)}
                p2 = {tuple(p) for p in run_row_extremes(rows, rxs, rxe)}
                assert p1 == p2
                r1, s1 = min_area_rect(row_extremes(ys, xs))
                r2, s2 = min_area_rect(run_row_extremes(rows, rxs, rxe))
                assert np.array_equal(r1, r2) and s1 == s2
                v1 = prob[ys, xs]
                v2 = np.concatenate(
                    [prob[r, s:e] for r, s, e
                     in zip(rows.tolist(), rxs.tolist(), rxe.tolist())]
                )
                assert np.array_equal(v1, v2)
                assert float(v1.mean()) == float(v2.mean())


# ---------------------------------------------------------------------------
# det stage pieces
# ---------------------------------------------------------------------------


class TestDetect:
    def test_resize_multiple_of_32(self):
        # ResizeImgType0 semantics (cpp/src/preprocess_op.cpp:56-91)
        from ppocr_spark.operators.detect import resize_type0

        img = np.zeros((1000, 2000), dtype=np.uint8)
        out, rh, rw = resize_type0(img, "max", 960)
        assert out.shape[0] % 32 == 0 and out.shape[1] % 32 == 0
        assert max(out.shape) <= 960 + 16  # rounding to x32 may add <16
        img2 = np.zeros((100, 200), dtype=np.uint8)
        out2, _, _ = resize_type0(img2, "max", 960)
        assert out2.shape == (96, 192)  # no upscale, rounded to x32

    def test_sorted_boxes_bubble(self):
        # the Δy<10 adjacent-swap pass (cpp/src/utility.cpp:443-460)
        from ppocr_spark.operators.detect import sorted_boxes

        def box(x, y):
            return np.array([[x, y], [x + 10, y], [x + 10, y + 8], [x, y + 8]])

        boxes = [box(50, 12), box(5, 5), box(100, 8)]
        out = sorted_boxes(boxes)
        xs = [int(b[0][0]) for b in out]
        assert xs == [5, 50, 100]  # same line (Δy<10) → x order

    def test_detect_empty_image(self):
        from ppocr_spark.operators.detect import detect

        cfg = PPOCRConfig()
        img = np.full((128, 128), 255, dtype=np.uint8)
        assert detect(img, cfg) == []


# ---------------------------------------------------------------------------
# CTC decode (R4, cpp/src/ocr_rec.cpp:94-132)
# ---------------------------------------------------------------------------


class TestCtc:
    def _grid(self, seq, dict_size=206):
        g = np.zeros((len(seq), dict_size), dtype=np.float32)
        for t, (cls, p) in enumerate(seq):
            g[t, cls] = p
            # spread the rest
            g[t, (cls + 1) % dict_size] = 1 - p
        return g

    def test_blank_and_repeat_collapse(self):
        from ppocr_spark.font import char_dict
        from ppocr_spark.operators.recognize import ctc_greedy_decode

        d = char_dict()
        a = d.index("A")
        b = d.index("B")
        grid = self._grid(
            [(0, 0.9), (a, 0.8), (a, 0.7), (0, 0.9), (b, 0.6), (0, 0.9)],
            dict_size=len(d),
        )
        text, score = ctc_greedy_decode(grid)
        assert text == "AB"
        # kept steps: first 'A' (0.8) and 'B' (0.6) → mean 0.7
        assert abs(score - 0.7) < 1e-6

    def test_repeat_after_blank_kept(self):
        from ppocr_spark.font import char_dict
        from ppocr_spark.operators.recognize import ctc_greedy_decode

        d = char_dict()
        a = d.index("A")
        grid = self._grid(
            [(a, 0.9), (0, 0.9), (a, 0.9)], dict_size=len(d)
        )
        text, _ = ctc_greedy_decode(grid)
        assert text == "AA"

    def test_all_blank_drops(self):
        from ppocr_spark.font import char_dict
        from ppocr_spark.operators.recognize import ctc_greedy_decode

        d = char_dict()
        grid = self._grid([(0, 0.9), (0, 0.8)], dict_size=len(d))
        text, score = ctc_greedy_decode(grid)
        assert text == "" and score == -1.0

    def test_char_dict_layout(self):
        # '#' blank prepended, ' ' appended (cpp/include/ocr_rec.h:51-54)
        from ppocr_spark.font import CHARSET, char_dict

        d = char_dict()
        assert d[0] == "#" and d[-1] == " " and len(d) == len(CHARSET) + 2


# ---------------------------------------------------------------------------
# word separator + layout (T-ops)
# ---------------------------------------------------------------------------


class TestSeparator:
    @pytest.mark.parametrize(
        "a,b,expect",
        [
            ("文", "字", ""),      # CJK·CJK
            ("a", "b", " "),
            ("-", "b", ""),        # trailing hyphen
            ("a", ".", ""),        # leading punctuation
            ("文", "b", " "),      # CJK then latin
            ("a", "文", " "),
            ("。", "文", ""),       # fullwidth punct is CJK-range on both sides
        ],
    )
    def test_cases(self, a, b, expect):
        from ppocr_spark.operators.layout import word_separator

        assert word_separator(a, b) == expect

    def test_property_space_or_empty(self):
        from hypothesis import given
        from hypothesis import strategies as st

        from ppocr_spark.operators.layout import word_separator

        @given(
            st.characters(blacklist_categories=("Cs",)),
            st.characters(blacklist_categories=("Cs",)),
        )
        def prop(a, b):
            assert word_separator(a, b) in ("", " ")

        prop()


def _blk(x0, y0, x1, y1, text, score=0.9):
    return {
        "box": [[x0, y0], [x1, y0], [x1, y1], [x0, y1]],
        "text": text,
        "score": score,
    }


class TestLayout:
    def test_deskew_below_threshold_is_aabb(self):
        from ppocr_spark.operators.layout import preprocess_blocks

        blocks = [_blk(0, 0, 100, 10, "a"), _blk(0, 20, 100, 30, "b")]
        out = preprocess_blocks(blocks)
        assert out[0]["nbbox"] == (0, 0, 100, 10)

    def test_deskew_rotation(self):
        import math

        from ppocr_spark.operators.layout import preprocess_blocks

        # 10°-rotated horizontal bars → median angle 10° > 3° threshold
        ang = math.radians(10)
        c, s = math.cos(ang), math.sin(ang)

        def rot_box(x0, y0, w, h):
            pts = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
            return {
                "box": [
                    [c * x - s * y + 200, s * x + c * y] for x, y in pts
                ],
                "text": "t",
                "score": 0.9,
            }

        blocks = [rot_box(0, 0, 100, 10), rot_box(0, 30, 100, 10)]
        out = preprocess_blocks(blocks)
        (x0a, y0a, x1a, y1a) = out[0]["nbbox"]
        # after deskew the bar is axis-aligned again: height ≈ 10
        assert abs((y1a - y0a) - 10) < 1.0
        assert out[0]["nbbox"][1] <= out[1]["nbbox"][1]

    def test_gap_tree_two_columns(self):
        from ppocr_spark.operators.layout import gap_tree_sort, preprocess_blocks

        blocks = [
            _blk(0, 0, 90, 10, "L1"),
            _blk(110, 0, 200, 10, "R1"),
            _blk(0, 20, 90, 30, "L2"),
            _blk(110, 20, 200, 30, "R2"),
        ]
        out, groups = gap_tree_sort(preprocess_blocks(blocks))
        assert [b["text"] for b in out] == ["L1", "L2", "R1", "R2"]
        assert len(groups) == 2

    def test_paragraphs_merge_and_split(self):
        from ppocr_spark.operators.layout import parse_paragraphs, preprocess_blocks

        blocks = [
            _blk(0, 0, 200, 10, "one"),
            _blk(0, 14, 200, 24, "two"),
            _blk(0, 60, 200, 70, "three"),  # big gap → new paragraph
        ]
        preprocess_blocks(blocks)
        ends = {}
        parse_paragraphs(blocks, lambda b, e: ends.__setitem__(b["text"], e))
        assert ends["one"] == " "
        assert ends["two"] == "\n"
        assert ends["three"] == "\n"

    def test_single_line_forced_space(self):
        from ppocr_spark.operators.layout import parser_single_line

        # huge horizontal gap within a line → forced ' '
        blocks = [_blk(0, 0, 50, 10, "a"), _blk(200, 0, 260, 10, "b")]
        out = parser_single_line(blocks)
        assert out[0]["end"] == " "
        assert out[1]["end"] == "\n"

    def test_single_code_indent(self):
        from ppocr_spark.operators.layout import parser_single_code

        blocks = [
            _blk(0, 0, 200, 20, "def f():"),
            _blk(40, 30, 200, 50, "return 1"),  # indent = 2 line heights
        ]
        out = parser_single_code(blocks)
        assert out[0]["text"] == "def f():"
        assert out[1]["text"].startswith("  ")

    def test_parser_none_default_end(self):
        from ppocr_spark.operators.layout import run_parser

        out = run_parser("none", [_blk(0, 0, 10, 10, "x")])
        assert out[0]["end"] == "\n"

    def test_multi_none_separators(self):
        from ppocr_spark.operators.layout import run_parser

        out = run_parser(
            "multi_none",
            [_blk(0, 0, 100, 10, "latin"), _blk(0, 20, 100, 30, "text")],
        )
        assert out[0]["end"] == " "
        assert out[1]["end"] == "\n"

    def test_assemble_text(self):
        from ppocr_spark.operators.layout import assemble_text

        blocks = [
            {"text": "a", "end": " "},
            {"text": "b", "end": "\n"},
            {"text": "c", "end": "\n"},
        ]
        assert assemble_text(blocks) == "a b\nc"

    def test_empty_input(self):
        from ppocr_spark.operators.layout import run_parser

        assert run_parser("multi_para", []) == []


# ---------------------------------------------------------------------------
# config + status
# ---------------------------------------------------------------------------


class TestConfig:
    def test_from_file_priority(self, tmp_path):
        # config-file grammar + CLI-wins (cpp/src/args.cpp:109-163)
        p = tmp_path / "cfg.txt"
        p.write_text(
            "# comment\ndet_db_thresh=0.4\nlimit_side_len 640\nparser multi_line\n"
            # reference keys the engine does not read are skipped, and
            # so is the removed OCR task-count knob
            "rec_img_w 320\nensure_ascii true\nshuffle_partitions 64\n"
        )
        cfg = PPOCRConfig.from_file(str(p), limit_side_len=720)
        assert cfg.det_db_thresh == 0.4
        assert cfg.limit_side_len == 720  # CLI override wins
        assert cfg.parser == "multi_line"
        assert not hasattr(cfg, "shuffle_partitions")

    def test_status_messages(self):
        from ppocr_spark.status import StatusCode, state_message

        assert state_message(StatusCode.NO_TEXT).startswith("No text")


class TestGapTreeProperties:
    def test_permutation_invariance(self):
        """SURVEY §5.5: GapTree output order must not depend on input
        block order (the reference sorts internally,
        api/python/tbpu/parser_tools/gap_tree.py:74)."""
        import random

        from ppocr_spark.operators.layout import gap_tree_sort

        random.seed(7)
        # two-column page: 4 left blocks, 4 right blocks, interleaved rows
        blocks = []
        for r in range(4):
            blocks.append(_blk(0, r * 30, 180, r * 30 + 20, f"L{r}"))
            blocks.append(_blk(300, r * 30, 480, r * 30 + 20, f"R{r}"))
        for b in blocks:
            b["nbbox"] = (
                b["box"][0][0], b["box"][0][1],
                b["box"][2][0], b["box"][2][1],
            )
        base_order = [b["text"] for b in gap_tree_sort(list(blocks))[0]]
        for _ in range(20):
            shuffled = list(blocks)
            random.shuffle(shuffled)
            order = [b["text"] for b in gap_tree_sort(shuffled)[0]]
            assert order == base_order, order
        # and the order is column-major (reading order), not row-major
        assert base_order == ["L0", "L1", "L2", "L3", "R0", "R1", "R2", "R3"]


class TestFusedDetFrontEnd:
    def test_fused_matches_legacy_composition(self):
        """pooled_ink (fused D1+pool) must stay equivalent to the legacy
        resize→uint8→pool composition up to the removed quantization: prob
        maps within 1/255, detected boxes within 1 px on rendered pages."""
        import numpy as np

        from ppocr_spark.config import PPOCRConfig
        from ppocr_spark.operators import detect as D
        from ppocr_spark.render import render_page

        cfg = PPOCRConfig()
        for i in range(8):
            rng = np.random.default_rng(i)
            lines = ["spark engine text"] * (1 + i % 4)
            img, _ = render_page(
                lines, skew_deg=float(rng.uniform(-3, 3)) if i % 2 else 0.0
            )
            h, w = img.shape
            rh, rw = D.resize_dims(h, w, cfg.limit_type, cfg.limit_side_len)
            resized, _, _ = D.resize_type0(img, cfg.limit_type,
                                           cfg.limit_side_len)
            legacy = D.probability_map(resized)
            ink = D.pooled_ink(img, rh, rw)
            ink = D._hmax_filter(ink, D.DILATE_W)
            fused = D._box_filter(ink, D.WIN_H, D.WIN_W).astype(np.float32)
            assert fused.shape == legacy.shape
            assert np.abs(fused - legacy).max() <= 1.0 / 255.0 + 1e-6

            boxes_fused = D.detect(img, cfg)
            bitmap = legacy > cfg.det_db_thresh
            b, _ = D.boxes_from_bitmap(legacy, bitmap, cfg)
            b = D.filter_tag_det_res(
                b, rh / float(h) / D.STRIDE, rw / float(w) / D.STRIDE,
                h, w, cfg.min_area_size,
            )
            boxes_legacy = D.sorted_boxes(b)
            assert len(boxes_fused) == len(boxes_legacy)
            for x, y in zip(boxes_legacy, boxes_fused):
                assert np.abs(x - y).max() <= 1


class TestLanguageDicts:
    """Per-language rec dict surface (the reference's per-language config
    files, cpp/src/args.cpp:109-163): 'en' restricts the CTC dict to
    ASCII; 'full' is byte-identical to the default path."""

    def test_en_dict_excludes_cjk(self):
        from ppocr_spark.font import char_dict, charset_for, template_stack

        en = charset_for("en")
        assert "的" not in en and "a" in en and "Z" in en
        _, labels = template_stack("en")
        assert set(labels) <= set(en)
        d = char_dict("en")
        assert d[0] == "#" and d[-1] == " "

    def test_full_matches_default(self):
        import numpy as np

        from ppocr_spark.operators.recognize import recognize_batch
        from ppocr_spark.render import render_page

        img, truth = render_page(["alpha beta"])
        # whole line as one crop
        crops = [img]
        full = recognize_batch(crops, lang="full")
        en = recognize_batch(crops, lang="en")
        assert full[0][0] == en[0][0]  # latin text identical under both
        assert full[0][0]  # non-empty

    def test_for_language_presets(self):
        from ppocr_spark.config import PPOCRConfig

        zh = PPOCRConfig.for_language("zh")
        assert zh.rec_lang == "zh" and zh.cls and zh.use_angle_cls
        en = PPOCRConfig.for_language("en", parser="single_line")
        assert en.rec_lang == "en" and en.parser == "single_line"
        try:
            PPOCRConfig.for_language("xx")
            assert False
        except ValueError:
            pass


class TestRecDictAlignment:
    def test_template_labels_equal_charset_order(self):
        """forward_probs class i+1 ↔ ctc_greedy_decode char_dict[i+1]:
        both must be charset_for order BY CONSTRUCTION (a bank-order
        labels string silently transliterates every char if CHARSET is
        ever reordered)."""
        from ppocr_spark.font import char_dict, charset_for, template_stack

        for lang in ("en", "full"):
            _, labels = template_stack(lang)
            assert labels == charset_for(lang)
            assert char_dict(lang) == ["#"] + list(labels) + [" "]


class TestClsResizeGolden:
    def test_c1_fixed_shape_resize_pad(self):
        """C1 parity primitive: ratio-keeping resize to h=48, white
        right-pad to w=192; wide crops clamp to the full width."""
        import numpy as np

        from ppocr_spark.operators.classify import CLS_H, CLS_W, cls_resize

        narrow = np.zeros((24, 48), dtype=np.uint8)  # ratio 2 → rw 96
        out = cls_resize(narrow)
        assert out.shape == (CLS_H, CLS_W)
        assert (out[:, 96:] == 255).all()  # white pad
        assert (out[:, :96] == 0).all()    # resized content

        wide = np.zeros((10, 2000), dtype=np.uint8)  # ratio 200 → clamp
        assert cls_resize(wide).shape == (CLS_H, CLS_W)


class TestSpaceGapThreshold:
    def test_word_gap_decision_boundary(self):
        """Pins the SPACE_GAP_FRAC=1.0 decision classes (the cross-scale
        fidelity fix, BENCH/BASELINE.md): a sub-glyph-width gap decodes
        as letter spacing, a clearly-super-width gap decodes as a word
        space. Constructed two-glyph crops — no corpus dependence."""
        import numpy as np

        from ppocr_spark.font import glyph_bank
        from ppocr_spark.operators.recognize import (
            ctc_greedy_decode,
            forward_probs,
        )

        g = glyph_bank()["a"]
        gh, gw = g.shape
        img = np.where(g, 0, 255).astype(np.uint8)

        def decode_with_gap(gap_px):
            canvas = np.full((gh + 8, gw * 2 + gap_px + 8), 255,
                             dtype=np.uint8)
            canvas[4:4 + gh, 4:4 + gw] = img
            canvas[4:4 + gh, 4 + gw + gap_px:4 + 2 * gw + gap_px] = img
            txt, _ = ctc_greedy_decode(forward_probs(canvas), "full")
            return txt

        assert decode_with_gap(int(0.3 * gw)) == "aa"
        assert decode_with_gap(int(1.5 * gw)) == "a a"
