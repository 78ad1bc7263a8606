"""ONNX det/rec models + the broadcastable model bundle.

This closes the "ONNX weights are a drop-in" loop end-to-end: the driver
EXPORTS genuine `.onnx` bytes (kernels/onnx_proto.py wire format — a
stock onnxruntime can load the same files), broadcasts them, and each
executor materializes per-process cached sessions (kernels/onnx_rt.py)
that the flagship extraction path runs for every page — the deployment
shape of the reference's onnxruntime branch (tools/infer/utility.py
:177-238 builds InferenceSession once per process; predict_det.py /
predict_rec.py then feed it batches).

The exported weights are analytically derived rather than SGD-trained —
deliberately: the correctness gate demands byte-identical extracted
text, so the models are constructed to be EXACTLY equivalent (with
proven float32 margins) to the deterministic stand-ins they replace:

- det.onnx  : Conv1x1(w=-40, b=40*178.5) -> Sigmoid -> MaxPool(1 x 63)
  -> MaxPool(3 x 1). Pixel values are integers, so |logit| >= 20 at
  every pixel: sigmoid is exactly 1.0f on ink (1/(1+2e-9) rounds to 1
  in float32) and ~2e-9 on background. Thresholding the pooled map at
  0.3 therefore reproduces DetModel.forward's binarize(178.5)+dilate
  bit-exactly, and box_score means differ from the binary map by < 2e-9
  — six orders of magnitude under every decision margin (box_thresh
  gap >= 0.038).
- rec.onnx  : center -> L2-normalize -> MatMul against the glyph
  template matrix (the classifier of RecModel.class_scores as a graph:
  ReduceMean/Sub/ReduceL2/Max/Div/MatMul). Identical float32 math on
  identical inputs; argmax margins are the template-correlation gaps
  (>= 0.05 across the charset), so decoded text is byte-identical.

Nearest-L2 template matching IS this linear head: with unit-norm
templates, argmin ||u - t||^2 = argmax t.u, so shipping the matrix as a
Gemm/MatMul weight is the standard export of a nearest-template
classifier.
"""

from __future__ import annotations

import numpy as np

from . import font as _font
from .det import DetConfig
from .onnx_proto import (
    DT_FLOAT,
    _varint,
    _read_varint,
    encode_model,
    encode_node,
    encode_tensor,
    encode_value_info,
)
from .onnx_rt import OnnxSession, session_for
from .rec import RecConfig, RecModel

BUNDLE_MAGIC = b"POCRSPK-ONNX1\x00"


def build_det_onnx(cfg: DetConfig | None = None) -> bytes:
    """DB-style det head as an ONNX graph over NCHW grayscale [0,255]."""
    cfg = cfg or DetConfig()
    scale = 40.0
    w = np.array([[[[-scale]]]], dtype=np.float32)  # [cout,cin,1,1]
    b = np.array([scale * 178.5], dtype=np.float32)
    kh = 2 * cfg.v_dilate + 1
    kw = 2 * cfg.h_dilate + 1
    nodes = [
        encode_node("Conv", ["x", "det_w", "det_b"], ["z"], name="ink_logit",
                    kernel_shape=[1, 1], pads=[0, 0, 0, 0], strides=[1, 1]),
        encode_node("Sigmoid", ["z"], ["p"], name="ink_prob"),
        encode_node("MaxPool", ["p"], ["ph"], name="h_dilate",
                    kernel_shape=[1, kw],
                    pads=[0, cfg.h_dilate, 0, cfg.h_dilate],
                    strides=[1, 1]),
        encode_node("MaxPool", ["ph"], ["prob"], name="v_dilate",
                    kernel_shape=[kh, 1],
                    pads=[cfg.v_dilate, 0, cfg.v_dilate, 0],
                    strides=[1, 1]),
    ]
    return encode_model(
        nodes,
        inputs=[encode_value_info("x", DT_FLOAT, [1, 1, "h", "w"])],
        outputs=[encode_value_info("prob", DT_FLOAT, [1, 1, "h", "w"])],
        initializers=[encode_tensor("det_w", w), encode_tensor("det_b", b)],
        graph_name="db_det",
    )


def build_rec_onnx(templates: np.ndarray | None = None) -> bytes:
    """Template-correlation classifier head as an ONNX graph:
    cells [k,35] -> (scores [k,C], norms [k,1])."""
    t = np.asarray(
        templates if templates is not None else _font.TEMPLATES,
        dtype=np.float32,
    )
    w = np.ascontiguousarray(t.T)  # [35, C]
    eps = np.array([[1e-9]], dtype=np.float32)
    nodes = [
        encode_node("ReduceMean", ["cells"], ["mu"], name="center_mean",
                    axes=[1], keepdims=1),
        encode_node("Sub", ["cells", "mu"], ["c"], name="center"),
        encode_node("ReduceL2", ["c"], ["norms"], name="norm",
                    axes=[1], keepdims=1),
        encode_node("Max", ["norms", "eps"], ["ne"], name="norm_eps"),
        encode_node("Div", ["c", "ne"], ["u"], name="unit"),
        encode_node("MatMul", ["u", "rec_w"], ["scores"], name="correlate"),
    ]
    return encode_model(
        nodes,
        inputs=[encode_value_info("cells", DT_FLOAT, ["k", t.shape[1]])],
        outputs=[
            encode_value_info("scores", DT_FLOAT, ["k", t.shape[0]]),
            encode_value_info("norms", DT_FLOAT, ["k", 1]),
        ],
        initializers=[encode_tensor("rec_w", w), encode_tensor("eps", eps)],
        graph_name="rec_head",
    )


def build_det_onnx_deep(cfg: DetConfig | None = None) -> bytes:
    """DB-shaped multi-layer det graph (reference
    tools/infer/predict_det.py:73-141 runs backbone -> FPN neck ->
    upsampling head; this is that SHAPE at toy depth): a strided
    space-to-depth stem, a grouped per-phase ink-logit conv, sigmoid, a
    ConvTranspose depth-to-space head back to full resolution, a 3x3
    smoothing conv + Relu, then the two dilation MaxPools.

    Every layer is constructed bit-exact w.r.t. the shallow graph:
    - stem: 2x2/s2 delta kernels copy each 2x2 phase into its own
      channel (1.0*x with zero partners — float-exact),
    - grouped 1x1: the SAME -40x + 40*178.5 logit per phase (identical
      float ops, so sigmoid saturates identically: |logit| >= 20 at
      integer pixels),
    - ConvTranspose 2x2/s2: non-overlapping delta taps reassemble the
      full-res map (each output pixel receives exactly one 1.0*p
      contribution),
    - 3x3 identity conv + Relu: center tap 1.0, zero partners; p > 0 so
      Relu is the identity.
    The final prob map is therefore bit-identical to build_det_onnx's,
    while the graph exercises strided conv, grouped conv and
    ConvTranspose — the op classes a real DB backbone needs
    (tests/test_onnx.py pins bitwise equality of the two graphs)."""
    cfg = cfg or DetConfig()
    scale = 40.0
    s2d = np.zeros((4, 1, 2, 2), dtype=np.float32)
    for p in range(4):
        s2d[p, 0, p // 2, p % 2] = 1.0
    logit_w = np.full((4, 1, 1, 1), -scale, dtype=np.float32)
    logit_b = np.full((4,), scale * 178.5, dtype=np.float32)
    d2s = np.zeros((4, 1, 2, 2), dtype=np.float32)  # [cin, cout, kh, kw]
    for p in range(4):
        d2s[p, 0, p // 2, p % 2] = 1.0
    smooth = np.zeros((1, 1, 3, 3), dtype=np.float32)
    smooth[0, 0, 1, 1] = 1.0
    kh = 2 * cfg.v_dilate + 1
    kw = 2 * cfg.h_dilate + 1
    nodes = [
        encode_node("Conv", ["x", "stem_w"], ["f0"], name="stem_s2d",
                    kernel_shape=[2, 2], pads=[0, 0, 0, 0], strides=[2, 2]),
        encode_node("Conv", ["f0", "logit_w", "logit_b"], ["z"],
                    name="ink_logit_grouped", kernel_shape=[1, 1],
                    pads=[0, 0, 0, 0], strides=[1, 1], group=4),
        encode_node("Sigmoid", ["z"], ["p4"], name="ink_prob"),
        encode_node("ConvTranspose", ["p4", "head_w"], ["p1"],
                    name="head_d2s", kernel_shape=[2, 2],
                    pads=[0, 0, 0, 0], strides=[2, 2]),
        encode_node("Conv", ["p1", "smooth_w"], ["ps"], name="fpn_smooth",
                    kernel_shape=[3, 3], pads=[1, 1, 1, 1], strides=[1, 1]),
        encode_node("Relu", ["ps"], ["pr"], name="head_act"),
        encode_node("MaxPool", ["pr"], ["ph"], name="h_dilate",
                    kernel_shape=[1, kw],
                    pads=[0, cfg.h_dilate, 0, cfg.h_dilate],
                    strides=[1, 1]),
        encode_node("MaxPool", ["ph"], ["prob"], name="v_dilate",
                    kernel_shape=[kh, 1],
                    pads=[cfg.v_dilate, 0, cfg.v_dilate, 0],
                    strides=[1, 1]),
    ]
    return encode_model(
        nodes,
        inputs=[encode_value_info("x", DT_FLOAT, [1, 1, "h", "w"])],
        outputs=[encode_value_info("prob", DT_FLOAT, [1, 1, "h", "w"])],
        initializers=[
            encode_tensor("stem_w", s2d),
            encode_tensor("logit_w", logit_w),
            encode_tensor("logit_b", logit_b),
            encode_tensor("head_w", d2s),
            encode_tensor("smooth_w", smooth),
        ],
        graph_name="db_det_deep",
    )


def build_det_onnx_mobile(seed: int = 0) -> tuple[bytes, float]:
    """(model_bytes, gmacs_at_640) — a DB mobile-det graph at GENUINE
    backbone channel widths (reference PP-OCRv5_mobile_det: MobileNet
    backbone -> 96-ch DBFPN neck -> 2x ConvTranspose DB head,
    configs/det/PP-OCRv5/PP-OCRv5_mobile_det.yml + tools/infer/
    predict_det.py:73-141), with seeded random-but-fixed weights.

    Purpose: bound REAL neural-FLOP throughput (tools/flops_bench.py).
    The byte-exact board graphs stay analytic; this one exists so the
    bench records docs/s at production FLOPs (~2 GMACs at 640x640 —
    the mobile-det envelope) instead of the analytic graphs' toy cost.
    Random weights don't change conv cost, and the output still runs
    the full DBPostProcess tail.

    Layer stack (1-channel NCHW in, prob map out, H/W % 32 == 0):
    stem 3x3/s2 1->16; depthwise-separable blocks 16->32/s2,
    32->64/s2, 64->128/s2 + 128->128, 128->256/s2 + 256->256
    (c2..c5 at 1/4..1/32); FPN: 1x1 laterals to 96, top-down
    ConvTranspose 2x2/s2 + Add, 3x3 smooth to 24 per level,
    ConvTranspose upsample each to 1/4, Concat -> 96; head: 3x3
    96->24 + Relu, ConvTranspose 24->24/s2 + Relu, ConvTranspose
    24->1/s2, Sigmoid."""
    rng = np.random.RandomState(seed)
    inits: list[bytes] = []
    nodes: list[bytes] = []
    macs = 0.0  # per-pixel-of-output accounting at 640x640
    REF = 640

    def w(name: str, shape: tuple[int, ...], fan_in: int) -> str:
        arr = (rng.randn(*shape) * np.sqrt(2.0 / fan_in)).astype(np.float32)
        inits.append(encode_tensor(name, arr))
        return name

    def conv(tag, src, dst, cin, cout, k, stride, out_hw, group=1,
             relu=False, pads=None):
        nonlocal macs
        wn = w(f"{tag}_w", (cout, cin // group, k, k), cin // group * k * k)
        bn = f"{tag}_b"
        inits.append(encode_tensor(
            bn, np.zeros((cout,), dtype=np.float32)))
        p = pads if pads is not None else [k // 2] * 4
        nodes.append(encode_node(
            "Conv", [src, wn, bn], [dst if not relu else dst + "_z"],
            name=tag, kernel_shape=[k, k], pads=p,
            strides=[stride, stride], group=group))
        if relu:
            nodes.append(encode_node("Relu", [dst + "_z"], [dst],
                                     name=tag + "_relu"))
        macs += out_hw * out_hw * cout * (cin // group) * k * k

    def upconv(tag, src, dst, cin, cout, k, out_hw, relu=False):
        nonlocal macs
        wn = w(f"{tag}_w", (cin, cout, k, k), cin)
        nodes.append(encode_node(
            "ConvTranspose", [src, wn],
            [dst if not relu else dst + "_z"], name=tag,
            kernel_shape=[k, k], pads=[0, 0, 0, 0], strides=[k, k]))
        if relu:
            nodes.append(encode_node("Relu", [dst + "_z"], [dst],
                                     name=tag + "_relu"))
        macs += out_hw * out_hw * cout * cin  # k/s taps = 1 per output

    def ds_block(tag, src, dst, cin, cout, stride, out_hw):
        conv(f"{tag}_dw", src, f"{tag}_d", cin, cin, 3, stride, out_hw,
             group=cin, relu=True)
        conv(f"{tag}_pw", f"{tag}_d", dst, cin, cout, 1, 1, out_hw,
             relu=True)

    conv("stem", "x", "c1", 1, 16, 3, 2, REF // 2, relu=True)
    ds_block("b2", "c1", "c2", 16, 32, 2, REF // 4)
    ds_block("b3", "c2", "c3", 32, 64, 2, REF // 8)
    ds_block("b4a", "c3", "c4a", 64, 128, 2, REF // 16)
    ds_block("b4b", "c4a", "c4", 128, 128, 1, REF // 16)
    ds_block("b5a", "c4", "c5a", 128, 256, 2, REF // 32)
    ds_block("b5b", "c5a", "c5", 256, 256, 1, REF // 32)
    # FPN: laterals to 96, top-down ConvTranspose + Add
    conv("l5", "c5", "f5", 256, 96, 1, 1, REF // 32)
    upconv("u5", "f5", "t5", 96, 96, 2, REF // 16)
    conv("l4", "c4", "f4l", 128, 96, 1, 1, REF // 16)
    nodes.append(encode_node("Add", ["f4l", "t5"], ["f4"], name="a4"))
    upconv("u4", "f4", "t4", 96, 96, 2, REF // 8)
    conv("l3", "c3", "f3l", 64, 96, 1, 1, REF // 8)
    nodes.append(encode_node("Add", ["f3l", "t4"], ["f3"], name="a3"))
    upconv("u3", "f3", "t3", 96, 96, 2, REF // 4)
    conv("l2", "c2", "f2l", 32, 96, 1, 1, REF // 4)
    nodes.append(encode_node("Add", ["f2l", "t3"], ["f2"], name="a2"))
    # per-level 3x3 smooth to 24ch + upsample everything to 1/4
    conv("s5", "f5", "p5", 96, 24, 3, 1, REF // 32)
    conv("s4", "f4", "p4", 96, 24, 3, 1, REF // 16)
    conv("s3", "f3", "p3", 96, 24, 3, 1, REF // 8)
    conv("s2", "f2", "p2", 96, 24, 3, 1, REF // 4)
    upconv("up5", "p5", "q5", 24, 24, 8, REF // 4)
    upconv("up4", "p4", "q4", 24, 24, 4, REF // 4)
    upconv("up3", "p3", "q3", 24, 24, 2, REF // 4)
    nodes.append(encode_node(
        "Concat", ["p2", "q3", "q4", "q5"], ["fuse"], name="fpn_concat",
        axis=1))
    # DB head
    conv("h1", "fuse", "h1o", 96, 24, 3, 1, REF // 4, relu=True)
    upconv("h2", "h1o", "h2o", 24, 24, 2, REF // 2, relu=True)
    upconv("h3", "h2o", "h3o", 24, 1, 2, REF)
    nodes.append(encode_node("Sigmoid", ["h3o"], ["prob"], name="db_prob"))
    model = encode_model(
        nodes,
        inputs=[encode_value_info("x", DT_FLOAT, [1, 1, "h", "w"])],
        outputs=[encode_value_info("prob", DT_FLOAT, [1, 1, "h", "w"])],
        initializers=inits,
        graph_name="db_det_mobile",
    )
    return model, macs / 1e9


# --- cls: 0/180 orientation head ------------------------------------------

CLS_H, CLS_W = 48, 192  # reference cls_image_shape "3, 48, 192"


def cls_resize(crop: np.ndarray) -> np.ndarray:
    """Resize/pad a crop to the fixed cls input [48, 192] (reference
    predict_cls.py resize_norm_img). One deviation, documented: the
    reference SQUEEZES long lines horizontally to width 192 (its CNN
    was trained with that distortion); matched glyph filters need the
    aspect preserved, so long lines are resized proportionally and
    CROPPED at 192 — the leading glyphs alone decide orientation."""
    from .imageops import resize_bilinear

    h, w = crop.shape[:2]
    rw = max(1, int(round(w * (CLS_H / max(h, 1)))))
    resized = resize_bilinear(crop, CLS_H, rw)
    out = np.full((CLS_H, CLS_W), 255.0, dtype=np.float32)
    out[:, : min(rw, CLS_W)] = resized[:, :CLS_W]
    return out


def _cls_filters(scale: int = 4, spacing: int = 12) -> np.ndarray:
    """Derive the cls conv bank by running the PIPELINE'S OWN geometry:
    render one line holding every glyph, det->crop it (so the crop
    carries the exact unclip margins a probe crop has), resize to the
    cls height, and cut each glyph's matched filter out of the result.
    Filters are mean-centered and L2-normalized; the 180 bank is the
    same filters rotated. Returns [2*K, 1, CLS_H, tw] float32."""
    from . import font as _f
    from .det import detect_lines
    from .imageops import resize_bilinear
    from .ocr import get_rotate_crop_image

    line = _f.CHARSET
    margin = 24
    page = _f.render_page([line], scale=scale, spacing=spacing, margin=margin)
    boxes, _ = detect_lines(page)
    if len(boxes) != 1:
        raise ValueError("cls calibration render must yield one det box")
    box = np.asarray(boxes[0])
    crop = get_rotate_crop_image(page, box)
    ch, cw = crop.shape[:2]
    r = CLS_H / ch
    resized = resize_bilinear(crop, CLS_H, max(1, int(round(cw * r))))
    ink = np.clip(1.0 - resized / 255.0, 0.0, 1.0)
    adv = _f.GLYPH_W * scale + spacing
    gw = _f.GLYPH_W * scale
    x_off = margin - float(box[0][0])  # line start inside the crop
    tw = int(np.ceil(gw * r)) + 2
    # Filters cover only the glyph's ink BAND (plus a 2-row margin), not
    # the crop's full height: det boxes on rotated pages land the band
    # 1 px off the upright placement, and a rigid full-height filter
    # pays that misalignment while the WRONG bank (spatially aligned,
    # wrong orientation) does not — measured on the corpus this inverts
    # the decision. Band filters slide vertically inside the 48-row
    # input, so each bank always correlates at its own best alignment.
    band = np.flatnonzero(ink.max(axis=1) > 0.2)
    y0 = max(0, int(band[0]) - 2)
    y1 = min(CLS_H, int(band[-1]) + 3)
    th = y1 - y0
    filters = np.zeros((2 * len(line), 1, th, tw), dtype=np.float32)
    for i in range(len(line)):
        gx = (x_off + i * adv) * r
        j0 = max(0, int(np.floor(gx)) - 1)
        f = ink[y0:y1, j0 : j0 + tw]
        if f.shape[1] < tw:  # last glyph near the crop edge
            f = np.pad(f, ((0, 0), (0, tw - f.shape[1])))
        f = f - f.mean()
        n = float(np.linalg.norm(f))
        f = f / max(n, 1e-9)
        filters[i, 0] = f
        filters[len(line) + i, 0] = np.rot90(f, 2)
    return filters


def build_cls_onnx(scale: int = 4, spacing: int = 12,
                   beta: float = 4.0) -> bytes:
    """0/180 text-direction classifier as an ONNX graph (reference
    tools/infer/predict_cls.py:67-137 + cls_postprocess.py: resize/pad
    -> net -> probabilities over label_list ["0","180"]).

    Graph: normalize (1x1 conv, pixel -> ink), a matched glyph-filter
    Conv bank (K upright + K rotated band filters sliding in BOTH
    dims), per-position best-of-bank (ReduceMax over the K filters),
    then an EVIDENCE-WEIGHTED soft vote: each sliding position casts
    sigmoid(beta*(up-down)) — the 2-way softmax of its bank margin —
    weighted by Relu(max(up, down)), its correlation evidence, and the
    weighted votes normalize to p("0"). Weighting is what makes the
    head robust: a plain mean drowns the ~9 glyph-centered positions
    in ~3000 background ones (measured: every angle scored 0.49-0.51),
    and a global max flips on one lucky cross-correlation peak; here
    background positions carry ~zero weight and every glyph position
    votes. probs[0] + probs[1] == 1 exactly."""
    w = _cls_filters(scale=scale, spacing=spacing)
    k2, _, th, tw = w.shape
    k = k2 // 2
    # Horizontal stride 2: half the vote positions for unchanged
    # decisions (bilinear blur widens horizontal peaks past 2 px, so a
    # stride-2 grid still samples every glyph's peak; measured worst
    # per-page correct-vs-wrong gap +0.044, same as stride 1). Vertical
    # stays stride 1 — band alignment peaks are 1 px sharp and a
    # vertical stride flips pages (measured 65/500 wrong at sh=2).
    sh, sw = 1, 2
    p = ((CLS_H - th) // sh + 1) * ((CLS_W - tw) // sw + 1)
    norm_w = np.array([[[[-1.0 / 255.0]]]], dtype=np.float32)
    norm_b = np.array([1.0], dtype=np.float32)
    # batch-polymorphic: -1 infers N, so orient_page scores all probe
    # crops in ONE session run (one big conv GEMM instead of 3 small)
    bank_shape = np.array([-1, 2, k, p], dtype=np.int64)
    out_shape = np.array([-1, 2], dtype=np.int64)
    up_w = np.array([[1.0, 0.0]], dtype=np.float32)
    down_w = np.array([[0.0, 1.0]], dtype=np.float32)
    diff_w = np.array([[1.0, -1.0]], dtype=np.float32)  # up - down
    beta_t = np.array([beta], dtype=np.float32)
    one = np.array([[1.0]], dtype=np.float32)
    eps = np.array([[1e-6]], dtype=np.float32)
    nodes = [
        encode_node("Conv", ["x", "norm_w", "norm_b"], ["ink"],
                    name="normalize", kernel_shape=[1, 1],
                    pads=[0, 0, 0, 0], strides=[1, 1]),
        encode_node("Conv", ["ink", "cls_w"], ["resp"], name="glyph_bank",
                    kernel_shape=[th, tw],
                    pads=[0, 0, 0, 0], strides=[sh, sw]),
        encode_node("Reshape", ["resp", "bank_shape"], ["banks"],
                    name="split_banks"),
        encode_node("ReduceMax", ["banks"], ["best"], name="best_filter",
                    axes=[2], keepdims=0),
        encode_node("MatMul", ["up_w", "best"], ["up"], name="up_bank"),
        encode_node("MatMul", ["down_w", "best"], ["down"], name="down_bank"),
        encode_node("Max", ["up", "down"], ["peak"], name="evidence"),
        encode_node("Relu", ["peak"], ["w1"], name="evidence_pos"),
        # w^8 peak sharpening: vote weight concentrates on glyph-centered
        # correlation peaks (evidence ~8) over partial-overlap positions
        # (~2-4) by (8/3)^8 ~ 2000x, while every glyph still votes —
        # q=8/beta=4 measured best on the corpus sweep (q=16+ collapses
        # back toward global-max fragility: one lucky wrong-bank peak
        # starts to dominate)
        encode_node("Mul", ["w1", "w1"], ["w2"], name="sharpen_2"),
        encode_node("Mul", ["w2", "w2"], ["w4"], name="sharpen_4"),
        encode_node("Mul", ["w4", "w4"], ["wgt"], name="sharpen_8"),
        encode_node("MatMul", ["diff_w", "best"], ["margin"],
                    name="bank_margin"),
        encode_node("Mul", ["margin", "beta_f"], ["scaled"],
                    name="temperature"),
        encode_node("Sigmoid", ["scaled"], ["votes"], name="pos_softmax2"),
        encode_node("Mul", ["votes", "wgt"], ["wvotes"],
                    name="weighted_votes"),
        encode_node("ReduceSum", ["wvotes"], ["vote_sum"], name="vote_sum",
                    axes=[2], keepdims=1),
        encode_node("ReduceSum", ["wgt"], ["wgt_sum"], name="weight_sum",
                    axes=[2], keepdims=1),
        encode_node("Max", ["wgt_sum", "eps"], ["wgt_safe"],
                    name="blank_guard"),
        encode_node("Div", ["vote_sum", "wgt_safe"], ["p_up"],
                    name="vote_norm"),
        encode_node("Sub", ["one", "p_up"], ["p_down"], name="complement"),
        encode_node("Concat", ["p_up", "p_down"], ["stacked"],
                    name="stack_probs", axis=1),
        encode_node("Reshape", ["stacked", "out_shape"], ["probs"],
                    name="squeeze_probs"),
    ]
    return encode_model(
        nodes,
        inputs=[encode_value_info("x", DT_FLOAT, ["n", 1, CLS_H, CLS_W])],
        outputs=[encode_value_info("probs", DT_FLOAT, ["n", 2])],
        initializers=[
            encode_tensor("norm_w", norm_w),
            encode_tensor("norm_b", norm_b),
            encode_tensor("cls_w", w),
            encode_tensor("bank_shape", bank_shape),
            encode_tensor("out_shape", out_shape),
            encode_tensor("up_w", up_w),
            encode_tensor("down_w", down_w),
            encode_tensor("diff_w", diff_w),
            encode_tensor("beta_f", beta_t),
            encode_tensor("one", one),
            encode_tensor("eps", eps),
        ],
        graph_name="cls_head",
    )


def build_onnx_bundle(
    templates: np.ndarray | None = None,
    det_cfg: DetConfig | None = None,
    deep_det: bool = True,
    with_cls: bool = True,
) -> bytes:
    """Driver-side export: det + rec (+ cls) in one broadcastable blob.
    Entries are length-prefixed and parsed sequentially, so a two-model
    blob from an older driver still splits cleanly."""
    det = build_det_onnx_deep(det_cfg) if deep_det else build_det_onnx(det_cfg)
    rec = build_rec_onnx(templates)
    blob = BUNDLE_MAGIC + _varint(len(det)) + det + _varint(len(rec)) + rec
    if with_cls:
        cls = build_cls_onnx()
        blob += _varint(len(cls)) + cls
    return blob


def split_onnx_bundle(blob: bytes) -> tuple[bytes, ...]:
    """(det, rec[, cls, ...]) — every length-prefixed entry in order."""
    body = blob[len(BUNDLE_MAGIC):]
    parts = []
    pos = 0
    while pos < len(body):
        n, pos = _read_varint(body, pos)
        parts.append(body[pos : pos + n])
        pos += n
    return tuple(parts)


def is_onnx_bundle(blob: bytes) -> bool:
    return blob.startswith(BUNDLE_MAGIC)


class OnnxDetModel:
    """Det head driven by an ONNX session. `uses_forward` routes
    detect_lines through the prob-map db_postprocess path (the run-space
    shortcut only exists for the closed-form binary stand-in)."""

    uses_forward = True

    def __init__(self, session: OnnxSession, cfg: DetConfig | None = None):
        self.cfg = cfg or DetConfig()
        self.session = session

    def forward(self, gray: np.ndarray) -> np.ndarray:
        x = np.asarray(gray, dtype=np.float32)
        h, w = x.shape
        ph, pw = h % 2, w % 2
        if ph or pw:
            # the deep graph's stride-2 stem needs even dims; pad with
            # BACKGROUND (255), never conv zero-padding — pixel 0 is ink
            x = np.pad(x, ((0, ph), (0, pw)), constant_values=255.0)
        prob = self.session.run({"x": x[None, None]})["prob"][0, 0]
        return prob[:h, :w]


class OnnxRecModel(RecModel):
    """RecModel with the classifier head swapped for the ONNX session;
    segmentation/pooling/CTC-frame assembly (the pre/post ops that stay
    outside the net in the reference too) are inherited unchanged."""

    def __init__(self, session: OnnxSession, cfg: RecConfig | None = None):
        super().__init__(cfg)
        self.session = session

    def class_scores(self, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        out = self.session.run({"cells": np.ascontiguousarray(v, dtype=np.float32)})
        return out["scores"], out["norms"].ravel()


class OnnxClsModel:
    """0/180 classifier driven by the cls ONNX session. `prob0_batch`
    is the orientation-probe score (p of label "0" = upright)."""

    def __init__(self, session: OnnxSession):
        self.session = session

    def prob0_batch(self, crops) -> list[float]:
        """p("0") for several crops in ONE session run — the graph is
        batch-polymorphic, so N probe crops cost one conv GEMM."""
        if not crops:
            return []
        x = np.stack(
            [cls_resize(np.asarray(c, dtype=np.float32)) for c in crops]
        )[:, None]
        probs = self.session.run({"x": x})["probs"]
        return [float(v) for v in probs[:, 0]]


def onnx_engine_models(det_bytes: bytes, rec_bytes: bytes,
                       det_cfg=None, rec_cfg=None):
    """Executor-side: cached sessions -> engine-compatible model pair."""
    return (
        OnnxDetModel(session_for(det_bytes), det_cfg),
        OnnxRecModel(session_for(rec_bytes), rec_cfg),
    )
