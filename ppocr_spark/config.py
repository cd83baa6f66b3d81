"""Engine configuration.

Mirrors the reference's gflags surface (defaults from
``cpp/src/args.cpp:22-83``) as a plain dataclass that is broadcast to
executors (the Spark analog of the reference's process-global flags).
CLI-wins-over-config-file priority (``cpp/src/args.cpp:109-163``
SET_FLAG_IF_DEFAULT) maps to ``PPOCRConfig.from_file(...).replace(**cli)``.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field


@dataclass(frozen=True)
class PPOCRConfig:
    # --- pipeline stage toggles (cpp/src/args.cpp:36-38, paddleocr.cpp:25-50)
    det: bool = True
    cls: bool = False
    rec: bool = True
    use_angle_cls: bool = False

    # --- detection (cpp/src/args.cpp:43-52)
    limit_type: str = "max"          # 'max' | 'min'
    limit_side_len: int = 960        # cap on longest (or floor on shortest) side
    det_db_thresh: float = 0.3       # prob-map binarization threshold
    det_db_box_thresh: float = 0.5   # per-box mean-score gate
    det_db_unclip_ratio: float = 1.6 # polygon dilation ratio
    det_db_score_mode: str = "slow"  # 'slow' (polygon mask mean) | 'fast' (bbox mean)
    use_dilation: bool = False       # 2x2 dilation of the bitmap
    max_candidates: int = 1000       # contour cap (postprocess_op.cpp:250)
    min_box_size: int = 3            # ssid gate (postprocess_op.cpp:277-279)
    min_area_size: int = 4           # final side gate (postprocess_op.cpp:341-349)

    # --- classification (cpp/src/args.cpp:54-57)
    cls_thresh: float = 0.9

    # --- recognition (cpp/src/args.cpp:59-64)
    rec_batch_num: int = 6
    # the reference's CRNN uses rec_img_h=48 (cpp/src/args.cpp:63); our
    # template recognizer needs the extra rows to stay alias-free after the
    # warp → resize chain, so the engine default is 64
    rec_img_h: int = 64
    # per-language recognition dict ('en'|'zh'|'full') — the analog of the
    # reference's per-language config files rewriting rec_char_dict_path
    # (cpp/src/args.cpp:109-163)
    rec_lang: str = "full"

    # --- layout post-processing (api/python/tbpu/__init__.py:14-29)
    parser: str = "multi_para"  # none|multi_para|multi_line|multi_none|
                                # single_line|single_para|single_none|single_code

    # --- text branch (north-rule text tier; no reference analog)
    html_strip: str = "off"  # off|strip|main — off: whitespace normalize
                             # only; strip: drop tags/entities (JVM regex);
                             # main: DOM-heuristic main-content extraction

    # --- Spark-scale knobs (no reference analog; north_rule axes A+B)
    doc_salt_buckets: int = 8        # salting factor for media-heavy docs
    arrow_batch_rows: int = 64       # maxRecordsPerBatch for media UDFs

    def replace(self, **kw) -> "PPOCRConfig":
        return dataclasses.replace(self, **kw)

    @classmethod
    def for_language(cls, lang: str, **overrides) -> "PPOCRConfig":
        """Per-language preset — the analog of the reference's shipped
        ``models/config_<lang>.txt`` files (each selects model dirs + a
        rec dict, cpp/src/args.cpp:109-163). 'zh' also enables the angle
        classifier, matching the shipped chinese config's cls usage."""
        presets = {
            "en": {"rec_lang": "en"},
            "zh": {"rec_lang": "zh", "cls": True, "use_angle_cls": True},
            "full": {"rec_lang": "full"},
        }
        if lang not in presets:
            raise ValueError(f"unknown language preset: {lang}")
        return cls(**{**presets[lang], **overrides})

    @classmethod
    def from_file(cls, path: str, **cli_overrides) -> "PPOCRConfig":
        """key=value / 'key value' lines, '#' comments — the reference's
        config-file grammar (cpp/src/args.cpp:109-163); CLI overrides win."""
        kv: dict[str, object] = {}
        fields = {f.name: f for f in dataclasses.fields(cls)}
        with open(path) as fh:
            for raw in fh:
                line = raw.split("#", 1)[0].strip()
                if not line:
                    continue
                if "=" in line:
                    k, v = line.split("=", 1)
                else:
                    parts = line.split(None, 1)
                    if len(parts) != 2:
                        continue
                    k, v = parts
                k, v = k.strip(), v.strip()
                if k not in fields:
                    continue
                typ = fields[k].type
                if typ == "bool" or isinstance(getattr(cls, k, None), bool):
                    kv[k] = v.lower() in ("1", "true", "yes", "on")
                elif isinstance(getattr(cls, k, None), int):
                    kv[k] = int(v)
                elif isinstance(getattr(cls, k, None), float):
                    kv[k] = float(v)
                else:
                    kv[k] = v
        kv.update(cli_overrides)
        return cls(**kv)  # type: ignore[arg-type]


VALID_PARSERS = (
    "none",
    "multi_para",
    "multi_line",
    "multi_none",
    "single_line",
    "single_para",
    "single_none",
    "single_code",
)
