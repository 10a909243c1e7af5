"""Native (C, built in-container with gcc) port of the HEVC
residual_coding syntax block (H.265 7.3.8.11 + 9.3.3.x) — the measured
per-task hot spot of every from-spec HEVC decode query.

Why this exists (optimization guide §1.2 step 2 / §4.2): after the r15
pure-Python engine work, profiling the m51/m55-m60 per-doc decode shows
~72% of cumulative time inside ``_residual`` and the CABAC engine leaves
it drives (``decision`` 26%, the ``_residual`` body 24%, ``remaining``
11%).  The distributed shape is already ideal (stateless per-doc
``mapInPandas`` after ``fan_out`` — the plan files are byte-identical
before/after), so the remaining lever is the per-task inner loop, and
the arithmetic-decoder bit loop is exactly the kind of branchy scalar
code CPython is worst at and C is best at.

Design rules:

- **One C call per residual block** (~160 calls/doc), so call overhead
  is irrelevant and ctypes (already this repo's native-interop tool for
  libwebp/libheif/libde265/x265/...) suffices — no new dependency.
- **No table is retyped in C** (the r10 "never hand-recall normative
  tables" rule): the LPS/transIdx tables, the 4x4 sig ctxIdxMap and the
  scan orders are passed in from the SAME Python objects the pure
  implementation uses, via ``hevcres_set_tables``.
- **Bit-for-bit the same semantics** as the Python path: the C decision
  renorm is the per-bit while-loop form the batched Python fetch was
  proven equivalent to, and bypass/remaining consume bits in the same
  order.  Equivalence is enforced three ways: the A/B test in
  tests/test_hevc_native.py (full decodes, native vs pure, over real
  x265 streams covering every TU size/scan/plane), driver_sim on every
  HEVC query, and the per-doc libde265 bit-exactness flags that gate
  every query's oracle.
- **Fallback, never failure**: any problem building or loading the
  library (no gcc, read-only tmp, unexpected toolchain) degrades to the
  pure-Python path.  The build is one gcc invocation cached per machine
  keyed on the md5 of the C source (``native_cache.cached_build``).
"""

from __future__ import annotations

import ctypes
import subprocess

from table_demo_spark.native_cache import cached_build

_C_SOURCE = r"""
#include <stdint.h>
#include <string.h>

/* Tables are injected from Python (single source of truth) — never
   retyped here. */
static unsigned char LPS_FLAT[256];
static unsigned char TRANS_LPS[64];
static unsigned char TRANS_MPS[64];
static unsigned char CTX_MAP4[16];
/* scans packed as (y<<4)|x, for n = 1,2,4,8 x scan_idx 0..2 */
static unsigned char SCANS[3 * (1 + 4 + 16 + 64)];
static int SCAN_OFF[4][3];

void hevcres_set_tables(const unsigned char *lps256,
                        const unsigned char *trans_lps,
                        const unsigned char *trans_mps,
                        const unsigned char *ctx_map4,
                        const unsigned char *scans, long scans_len)
{
    memcpy(LPS_FLAT, lps256, 256);
    memcpy(TRANS_LPS, trans_lps, 64);
    memcpy(TRANS_MPS, trans_mps, 64);
    memcpy(CTX_MAP4, ctx_map4, 16);
    if (scans_len == (long)sizeof(SCANS)) memcpy(SCANS, scans, scans_len);
    long off = 0;
    for (int l = 0; l < 4; l++)
        for (int i = 0; i < 3; i++) {
            SCAN_OFF[l][i] = (int)off;
            off += (long)(1 << l) * (1 << l);
        }
}

typedef struct {
    const unsigned char *data;
    long nbytes;
    long bitpos;
    long range;
    long offset;
    int err; /* 0 ok, -1 truncated, -2 runaway bypass unary */
} dec_t;

static inline int get_bit(dec_t *d)
{
    long bi = d->bitpos >> 3;
    if (bi >= d->nbytes) { d->err = -1; return 0; }
    int bit = (d->data[bi] >> (7 - (d->bitpos & 7))) & 1;
    d->bitpos++;
    return bit;
}

/* 9.3.4.3.2 DecodeDecision + 9.3.4.3.3 renorm (per-bit form — proven
   equivalent to the batched Python fetch). */
static inline int dec_decision(dec_t *d, signed char *st)
{
    int s = st[0], mps = st[1];
    long r = d->range;
    long lps = LPS_FLAT[(s << 2) | ((r >> 6) & 3)];
    r -= lps;
    long off = d->offset;
    int binval;
    if (off >= r) {
        binval = 1 - mps;
        off -= r;
        r = lps;
        if (s == 0) st[1] = (signed char)binval;
        st[0] = (signed char)TRANS_LPS[s];
    } else {
        binval = mps;
        st[0] = (signed char)TRANS_MPS[s];
    }
    while (r < 256) {
        off = (off << 1) | get_bit(d);
        if (d->err) return 0;
        r <<= 1;
    }
    d->range = r;
    d->offset = off;
    return binval;
}

static inline long dec_bypass_bits(dec_t *d, int n)
{
    long off = d->offset, r = d->range, val = 0;
    for (int i = 0; i < n; i++) {
        off = (off << 1) | get_bit(d);
        if (d->err) return 0;
        if (off >= r) { off -= r; val = (val << 1) | 1; }
        else val <<= 1;
    }
    d->offset = off;
    return val;
}

/* 9.3.3.13 coeff_abs_level_remaining: TR prefix (limit 31) + rice /
   EGk escape suffix, all bypass. */
static inline long long dec_remaining(dec_t *d, int rice)
{
    long off = d->offset, r = d->range;
    int prefix = 0;
    for (;;) {
        off = (off << 1) | get_bit(d);
        if (d->err) return 0;
        if (off >= r) {
            off -= r;
            prefix++;
            if (prefix > 31) { d->err = -2; return 0; }
        } else break;
    }
    int n = prefix < 3 ? rice : prefix - 3 + rice;
    long long suffix = 0;
    for (int i = 0; i < n; i++) {
        off = (off << 1) | get_bit(d);
        if (d->err) return 0;
        if (off >= r) { off -= r; suffix = (suffix << 1) | 1; }
        else suffix <<= 1;
    }
    d->offset = off;
    if (prefix < 3) return ((long long)prefix << rice) + suffix;
    return (((1LL << (prefix - 3)) + 2) << rice) + suffix;
}

/* 9.3.4.2.5 sig_coeff_flag ctxInc. */
static int sig_ctx(int log2_size, int c_idx, int scan_idx,
                   int xp, int yp, int prev, int sb_zero)
{
    int sig;
    if (log2_size == 2) {
        sig = CTX_MAP4[(yp << 2) + xp];
    } else if (sb_zero && xp == 0 && yp == 0) {
        sig = 0;
    } else {
        if (prev == 0)
            sig = (xp + yp == 0) ? 2 : (xp + yp < 3 ? 1 : 0);
        else if (prev == 1)
            sig = (yp == 0) ? 2 : (yp == 1 ? 1 : 0);
        else if (prev == 2)
            sig = (xp == 0) ? 2 : (xp == 1 ? 1 : 0);
        else
            sig = 2;
        if (c_idx == 0) {
            if (!sb_zero) sig += 3;
            if (log2_size == 3) sig += (scan_idx == 0) ? 9 : 15;
            else sig += 21;
        } else {
            sig += (log2_size == 3) ? 9 : 12;
        }
    }
    return sig + (c_idx ? 27 : 0);
}

static int last_prefix(dec_t *d, signed char *cs, int base,
                       int log2_size, int c_idx)
{
    int offset, shift;
    if (c_idx == 0) {
        offset = 3 * (log2_size - 2) + ((log2_size - 1) >> 2);
        shift = (log2_size + 1) >> 2;
    } else {
        offset = 15;
        shift = log2_size - 2;
    }
    int c_max = (log2_size << 1) - 1;
    int prefix = 0;
    while (prefix < c_max) {
        if (!dec_decision(d, cs + base + 2 * ((prefix >> shift) + offset)))
            break;
        if (d->err) break;
        prefix++;
    }
    return prefix;
}

static long last_suffix(dec_t *d, int prefix)
{
    if (prefix <= 3) return prefix;
    int n_bits = (prefix >> 1) - 1;
    return ((long)(2 + (prefix & 1)) << n_bits) + dec_bypass_bits(d, n_bits);
}

/* Context-state pair offsets inside cs (layout owned by hevc.py's
   _RES_CTX_LAYOUT — keep in sync): */
#define CS_LAST_X 0
#define CS_LAST_Y (2 * 18)
#define CS_CSB    (2 * 36)
#define CS_SIG    (2 * 40)
#define CS_G1     (2 * 82)
#define CS_G2     (2 * 106)

static long residual_core(dec_t *dp, signed char *cs, int log2_size,
                          int c_idx, int scan_idx, long long *coeffs,
                          long long *out_n_coeff)
{
    dec_t d = *dp;
    int n = 1 << log2_size;

    int px = last_prefix(&d, cs, CS_LAST_X, log2_size, c_idx);
    int py = last_prefix(&d, cs, CS_LAST_Y, log2_size, c_idx);
    long lx = last_suffix(&d, px);
    long ly = last_suffix(&d, py);
    if (d.err) return d.err;
    if (scan_idx == 2) { long t = lx; lx = ly; ly = t; }

    const unsigned char *pos_scan = SCANS + SCAN_OFF[2][scan_idx];
    int n_sb_log2 = log2_size - 2;
    const unsigned char *sb_scan = SCANS + SCAN_OFF[n_sb_log2][scan_idx];
    int sb_count = (1 << n_sb_log2) * (1 << n_sb_log2);
    int last_sb = -1, last_pos = -1;
    {
        int tx = (int)(lx >> 2), ty = (int)(ly >> 2);
        for (int i = 0; i < sb_count; i++) {
            int e = sb_scan[i];
            if ((e & 15) == tx && (e >> 4) == ty) { last_sb = i; break; }
        }
        tx = (int)(lx & 3); ty = (int)(ly & 3);
        for (int i = 0; i < 16; i++) {
            int e = pos_scan[i];
            if ((e & 15) == tx && (e >> 4) == ty) { last_pos = i; break; }
        }
    }
    if (last_sb < 0 || last_pos < 0) return -3;

    memset(coeffs, 0, sizeof(long long) * (size_t)n * (size_t)n);
    unsigned char csbf[9][9];
    memset(csbf, 0, sizeof(csbf));
    signed char *sig_states = cs + CS_SIG;
    signed char *csb_states = cs + CS_CSB;
    signed char *g1_states = cs + CS_G1;
    signed char *g2_states = cs + CS_G2;
    int c1 = 1;
    long long n_coeff = 0;

    for (int i = last_sb; i >= 0; i--) {
        int xs = sb_scan[i] & 15, ys = sb_scan[i] >> 4;
        int infer_dc = 0;
        if (i < last_sb && i > 0) {
            int prev_n = csbf[ys][xs + 1] + csbf[ys + 1][xs];
            int inc = (prev_n > 1 ? 1 : prev_n) + (c_idx ? 2 : 0);
            int flag = dec_decision(&d, csb_states + 2 * inc);
            if (d.err) return d.err;
            csbf[ys][xs] = (unsigned char)flag;
            infer_dc = 1;
        } else {
            csbf[ys][xs] = 1;
        }
        if (!csbf[ys][xs]) continue;

        int sig[16];
        memset(sig, 0, sizeof(sig));
        int start;
        if (i == last_sb) { sig[last_pos] = 1; start = last_pos - 1; }
        else start = 15;
        int prev = csbf[ys][xs + 1] + 2 * csbf[ys + 1][xs];
        int sb_zero = (xs == 0 && ys == 0);
        for (int pos = start; pos >= 0; pos--) {
            if (pos > 0 || !infer_dc) {
                int xp = pos_scan[pos] & 15, yp = pos_scan[pos] >> 4;
                int inc = sig_ctx(log2_size, c_idx, scan_idx, xp, yp,
                                  prev, sb_zero);
                sig[pos] = dec_decision(&d, sig_states + 2 * inc);
                if (d.err) return d.err;
                if (sig[pos]) infer_dc = 0;
            } else {
                sig[pos] = 1;
            }
        }
        int sig_pos[16], n_sig = 0;
        for (int p = 15; p >= 0; p--)
            if (sig[p]) sig_pos[n_sig++] = p;
        if (!n_sig) continue;

        /* 9.3.4.2.6: ctxSet from subblock index + previous subblock's
           ending greater1Ctx (the HM c1 carry). */
        int ctx_set = ((i > 0 && c_idx == 0) ? 2 : 0) + (c1 == 0 ? 1 : 0);
        c1 = 1;
        int gt1[8];
        int n_gt1 = n_sig < 8 ? n_sig : 8;
        int first_gt1 = -1;
        for (int k = 0; k < n_gt1; k++) {
            int f = dec_decision(
                &d,
                g1_states + 2 * ((c_idx ? 16 : 0) + ctx_set * 4 + c1));
            if (d.err) return d.err;
            gt1[k] = f;
            if (f) {
                c1 = 0;
                if (first_gt1 < 0) first_gt1 = sig_pos[k];
            } else if (c1 > 0 && c1 < 3) {
                c1++;
            }
        }
        int gt2 = 0;
        if (first_gt1 >= 0) {
            gt2 = dec_decision(
                &d, g2_states + 2 * ((c_idx ? 4 : 0) + ctx_set));
            if (d.err) return d.err;
        }
        long sign_word = dec_bypass_bits(&d, n_sig);
        if (d.err) return d.err;
        int rice = 0, first_coeff2 = 1;
        for (int k = 0; k < n_sig; k++) {
            int pos = sig_pos[k];
            long long val = 1;
            if (k < 8) {
                val += gt1[k];
                if (pos == first_gt1) val += gt2;
            }
            long long base = (k < 8) ? (2 + first_coeff2) : 1;
            if (val == base) {
                long long rem = dec_remaining(&d, rice);
                if (d.err) return d.err;
                val += rem;
                if (val > (3LL << rice) && rice < 4) rice++;
            }
            if (val >= 2) first_coeff2 = 0;
            int xp = pos_scan[pos] & 15, yp = pos_scan[pos] >> 4;
            coeffs[(long)((ys << 2) + yp) * n + (xs << 2) + xp] =
                ((sign_word >> (n_sig - 1 - k)) & 1) ? -val : val;
            n_coeff++;
        }
    }
    *dp = d;
    out_n_coeff[0] = n_coeff;
    return 0;
}

long hevc_residual(const unsigned char *data, long nbytes,
                   long long *io /* bitpos, range, offset */,
                   signed char *cs, long log2_size, long c_idx,
                   long scan_idx, long long *coeffs,
                   long long *out_n_coeff)
{
    dec_t d = { data, nbytes, (long)io[0], (long)io[1], (long)io[2], 0 };
    long rc = residual_core(&d, cs, (int)log2_size, (int)c_idx,
                            (int)scan_idx, coeffs, out_n_coeff);
    if (rc != 0) return rc;
    io[0] = d.bitpos;
    io[1] = d.range;
    io[2] = d.offset;
    return 0;
}

/* ---- 8.6.3 dequant (flat scaling) + 8.6.4.2 inverse transform ---- */

static long long LEVEL_SCALE[6];
static long long TX_DCT4[16], TX_DCT8[64], TX_DCT16[256];
static long long TX_DCT32[1024], TX_DST4[16];

void hevcres_set_tx(const long long *level_scale, const long long *dct4,
                    const long long *dct8, const long long *dct16,
                    const long long *dct32, const long long *dst4)
{
    memcpy(LEVEL_SCALE, level_scale, sizeof(LEVEL_SCALE));
    memcpy(TX_DCT4, dct4, sizeof(TX_DCT4));
    memcpy(TX_DCT8, dct8, sizeof(TX_DCT8));
    memcpy(TX_DCT16, dct16, sizeof(TX_DCT16));
    memcpy(TX_DCT32, dct32, sizeof(TX_DCT32));
    memcpy(TX_DST4, dst4, sizeof(TX_DST4));
}

long hevc_residual_tx(const unsigned char *data, long nbytes,
                      long long *io, signed char *cs, long log2_size_l,
                      long c_idx, long scan_idx, long qp_l,
                      long use_dst, long long *res_out,
                      long long *out_n_coeff)
{
    int log2_size = (int)log2_size_l;
    int qp = (int)qp_l;
    int n = 1 << log2_size;
    long long coeffs[32 * 32];
    dec_t d = { data, nbytes, (long)io[0], (long)io[1], (long)io[2], 0 };
    long rc = residual_core(&d, cs, log2_size, (int)c_idx,
                            (int)scan_idx, coeffs, out_n_coeff);
    if (rc != 0) return rc;
    io[0] = d.bitpos;
    io[1] = d.range;
    io[2] = d.offset;

    const long long *t =
        use_dst ? TX_DST4
                : (n == 4 ? TX_DCT4
                          : (n == 8 ? TX_DCT8
                                    : (n == 16 ? TX_DCT16 : TX_DCT32)));
    int bd_shift = 8 + log2_size - 5;
    long long scale =
        16LL * LEVEL_SCALE[qp % 6] * (1LL << (qp / 6));
    long long rnd = 1LL << (bd_shift - 1);
    long long dq[32 * 32];
    for (int i = 0; i < n * n; i++) {
        long long v = (coeffs[i] * scale + rnd) >> bd_shift;
        dq[i] = v < -32768 ? -32768 : (v > 32767 ? 32767 : v);
    }
    /* e = clip16((T^T @ dq + 64) >> 7); res = (e @ T + 2048) >> 12 */
    long long e[32 * 32];
    for (int i = 0; i < n; i++)
        for (int j = 0; j < n; j++) {
            long long s = 64;
            for (int k = 0; k < n; k++)
                s += t[k * n + i] * dq[k * n + j];
            s >>= 7;
            e[i * n + j] = s < -32768 ? -32768 : (s > 32767 ? 32767 : s);
        }
    for (int i = 0; i < n; i++)
        for (int j = 0; j < n; j++) {
            long long s = 2048;
            for (int k = 0; k < n; k++)
                s += e[i * n + k] * t[k * n + j];
            res_out[i * n + j] = s >> 12;
        }
    return 0;
}

/* ---- 8.5.3.3.3 fractional-sample interpolation (BitDepth 8) ----
   Returns the 14-bit intermediates, exactly like the Python
   _mc_luma_raw/_mc_chroma_raw (integer filters injected from the
   same Python tables; >> is gcc arithmetic shift == Python floor). */

static long long LUMA_F[4][8];   /* index by fx 1..3 */
static long long CHROMA_F[8][4]; /* index by fx 1..7 */

void hevcres_set_mc_filters(const long long *luma /* 3*8, fx 1..3 */,
                            const long long *chroma /* 7*4, fx 1..7 */)
{
    for (int f = 1; f <= 3; f++)
        for (int i = 0; i < 8; i++) LUMA_F[f][i] = luma[(f - 1) * 8 + i];
    for (int f = 1; f <= 7; f++)
        for (int i = 0; i < 4; i++) CHROMA_F[f][i] = chroma[(f - 1) * 4 + i];
}

void hevc_mc_luma(const long long *ref, long h, long w,
                  long x0, long y0, long n, long mx, long my,
                  long long *out)
{
    long xi = x0 + (mx >> 2);
    int fx = (int)(mx & 3);
    long yi = y0 + (my >> 2);
    int fy = (int)(my & 3);
    int bn = (int)n + 7;
    long long blk[39 * 39]; /* n <= 32 */
    long idx[39];
    for (int i = 0; i < bn; i++) {
        long c = xi - 3 + i;
        idx[i] = c < 0 ? 0 : (c >= w ? w - 1 : c);
    }
    for (int r = 0; r < bn; r++) {
        long rr = yi - 3 + r;
        rr = rr < 0 ? 0 : (rr >= h ? h - 1 : rr);
        const long long *src = ref + rr * w;
        long long *dst = blk + (long)r * bn;
        for (int c = 0; c < bn; c++) dst[c] = src[idx[c]];
    }
    if (fx == 0 && fy == 0) {
        for (int y = 0; y < n; y++)
            for (int x = 0; x < n; x++)
                out[y * n + x] = blk[(y + 3) * bn + x + 3] << 6;
        return;
    }
    if (fy == 0) {
        const long long *f = LUMA_F[fx];
        for (int y = 0; y < n; y++)
            for (int x = 0; x < n; x++) {
                const long long *row = blk + (y + 3) * bn + x;
                long long s = 0;
                for (int i = 0; i < 8; i++) s += f[i] * row[i];
                out[y * n + x] = s;
            }
        return;
    }
    if (fx == 0) {
        const long long *f = LUMA_F[fy];
        for (int y = 0; y < n; y++)
            for (int x = 0; x < n; x++) {
                const long long *col = blk + y * bn + x + 3;
                long long s = 0;
                for (int i = 0; i < 8; i++) s += f[i] * col[i * bn];
                out[y * n + x] = s;
            }
        return;
    }
    const long long *fh = LUMA_F[fx];
    const long long *fv = LUMA_F[fy];
    long long tmp[39 * 32];
    for (int r = 0; r < bn; r++)
        for (int x = 0; x < n; x++) {
            const long long *row = blk + r * bn + x;
            long long s = 0;
            for (int i = 0; i < 8; i++) s += fh[i] * row[i];
            tmp[r * n + x] = s;
        }
    for (int y = 0; y < n; y++)
        for (int x = 0; x < n; x++) {
            const long long *col = tmp + y * (long)n + x;
            long long s = 0;
            for (int i = 0; i < 8; i++) s += fv[i] * col[i * n];
            out[y * n + x] = s >> 6;
        }
}

void hevc_mc_chroma(const long long *ref, long h, long w,
                    long xc, long yc, long nc, long mx, long my,
                    long long *out)
{
    long xi = xc + (mx >> 3);
    int fx = (int)(mx & 7);
    long yi = yc + (my >> 3);
    int fy = (int)(my & 7);
    int bn = (int)nc + 3;
    long long blk[19 * 19]; /* nc <= 16 */
    long idx[19];
    for (int i = 0; i < bn; i++) {
        long c = xi - 1 + i;
        idx[i] = c < 0 ? 0 : (c >= w ? w - 1 : c);
    }
    for (int r = 0; r < bn; r++) {
        long rr = yi - 1 + r;
        rr = rr < 0 ? 0 : (rr >= h ? h - 1 : rr);
        const long long *src = ref + rr * w;
        long long *dst = blk + (long)r * bn;
        for (int c = 0; c < bn; c++) dst[c] = src[idx[c]];
    }
    if (fx == 0 && fy == 0) {
        for (int y = 0; y < nc; y++)
            for (int x = 0; x < nc; x++)
                out[y * nc + x] = blk[(y + 1) * bn + x + 1] << 6;
        return;
    }
    if (fy == 0) {
        const long long *f = CHROMA_F[fx];
        for (int y = 0; y < nc; y++)
            for (int x = 0; x < nc; x++) {
                const long long *row = blk + (y + 1) * bn + x;
                long long s = 0;
                for (int i = 0; i < 4; i++) s += f[i] * row[i];
                out[y * nc + x] = s;
            }
        return;
    }
    if (fx == 0) {
        const long long *f = CHROMA_F[fy];
        for (int y = 0; y < nc; y++)
            for (int x = 0; x < nc; x++) {
                const long long *col = blk + y * bn + x + 1;
                long long s = 0;
                for (int i = 0; i < 4; i++) s += f[i] * col[i * bn];
                out[y * nc + x] = s;
            }
        return;
    }
    const long long *fh = CHROMA_F[fx];
    const long long *fv = CHROMA_F[fy];
    long long tmp[19 * 16];
    for (int r = 0; r < bn; r++)
        for (int x = 0; x < nc; x++) {
            const long long *row = blk + r * bn + x;
            long long s = 0;
            for (int i = 0; i < 4; i++) s += fh[i] * row[i];
            tmp[r * nc + x] = s;
        }
    for (int y = 0; y < nc; y++)
        for (int x = 0; x < nc; x++) {
            const long long *col = tmp + y * (long)nc + x;
            long long s = 0;
            for (int i = 0; i < 4; i++) s += fv[i] * col[i * nc];
            out[y * nc + x] = s >> 6;
        }
}

/* ---- fused inter prediction (8.5.3.3.4.2 / .3) -----------------------
   One call per plane per CU: run the MC interpolation for each active
   list (exported kernels above), then the uni ((r + 32) >> 6) or
   default-bi ((r0 + r1 + 64) >> 7) weighted-sample rounding, clip to
   [0,255] and store into the picture plane — exactly the Python
   _inter_pred_cu combine. */

void hevc_inter_pred(const long long *ref0, const long long *ref1,
                     long h, long w, long x0, long y0, long n,
                     long mx0, long my0, long mx1, long my1,
                     long luma, long long *plane, long pw)
{
    long long r0[32 * 32], r1[32 * 32];
    if (ref0) {
        if (luma) hevc_mc_luma(ref0, h, w, x0, y0, n, mx0, my0, r0);
        else hevc_mc_chroma(ref0, h, w, x0, y0, n, mx0, my0, r0);
    }
    if (ref1) {
        if (luma) hevc_mc_luma(ref1, h, w, x0, y0, n, mx1, my1, r1);
        else hevc_mc_chroma(ref1, h, w, x0, y0, n, mx1, my1, r1);
    }
    const long long *ru = ref0 ? r0 : r1;
    int bi = (ref0 && ref1);
    for (long yy = 0; yy < n; yy++) {
        long long *prow = plane + (y0 + yy) * pw + x0;
        for (long xx = 0; xx < n; xx++) {
            long long v = bi
                ? (r0[yy * n + xx] + r1[yy * n + xx] + 64) >> 7
                : (ru[yy * n + xx] + 32) >> 6;
            if (v < 0) v = 0; else if (v > 255) v = 255;
            prow[xx] = v;
        }
    }
}

/* ---- 8.4.4.2 intra sample prediction + reconstruction ----------------
   Faithful port of the Python _intra_pred/_reconstruct pair: reference
   gather with 8.4.4.2.2 substitution (forward fill from i = -2n), the
   [1 2 1] / strong bilinear smoothing (8.4.4.2.3), and the planar / DC
   / angular arms, then pred(+res), clip to [0,255], write into the
   picture plane and mark availability.  Angle tables are injected from
   the same Python constants (hevcres_set_intra).  >> on negatives is
   gcc arithmetic shift == Python floor shift. */

static long long PRED_ANGLE_T[33];
static long long INV_ANGLE_T[33]; /* by mode-2; 0 where unused */

void hevcres_set_intra(const long long *pred_angle,
                       const long long *inv_angle)
{
    memcpy(PRED_ANGLE_T, pred_angle, sizeof(PRED_ANGLE_T));
    memcpy(INV_ANGLE_T, inv_angle, sizeof(INV_ANGLE_T));
}

void hevc_intra_recon(long long *plane, unsigned char *avail,
                      long ph, long pw, long x0, long y0, long n,
                      long mode, long c_idx, long strong,
                      const long long *res, long set_avail)
{
    long n2 = 2 * n;
    long total = 4 * n + 1;
    long long vals[129];   /* 4*32 + 1 */
    unsigned char have[129];
    memset(have, 0, (size_t)total);
    for (long i = 0; i < total; i++) vals[i] = 0;

    /* gather: index 0 = p[-1][2n-1] (bottom of left column), n2 =
       corner p[-1][-1], n2+1+x = top row p[x][-1] */
    if (y0 > 0 && x0 > 0 && avail[(y0 - 1) * pw + (x0 - 1)]) {
        vals[n2] = plane[(y0 - 1) * pw + (x0 - 1)];
        have[n2] = 1;
    }
    if (x0 > 0) {
        long m = ph - y0; if (m > n2) m = n2;
        for (long k = 0; k < m; k++) {
            vals[n2 - 1 - k] = plane[(y0 + k) * pw + (x0 - 1)];
            have[n2 - 1 - k] = avail[(y0 + k) * pw + (x0 - 1)];
        }
    }
    if (y0 > 0) {
        long m = pw - x0; if (m > n2) m = n2;
        for (long k = 0; k < m; k++) {
            vals[n2 + 1 + k] = plane[(y0 - 1) * pw + (x0 + k)];
            have[n2 + 1 + k] = avail[(y0 - 1) * pw + (x0 + k)];
        }
    }
    long navail = 0;
    for (long i = 0; i < total; i++) navail += have[i];
    if (navail == 0) {
        for (long i = 0; i < total; i++) vals[i] = 128;
    } else if (navail < total) {
        if (!have[0]) {
            long f = 0;
            while (!have[f]) f++;
            vals[0] = vals[f];
            have[0] = 1;
        }
        for (long i = 1; i < total; i++)
            if (!have[i]) vals[i] = vals[i - 1];
    }
    long long corner = vals[n2];
    long long left[64], top[64];
    for (long k = 0; k < n2; k++) {
        left[k] = vals[n2 - 1 - k];
        top[k] = vals[n2 + 1 + k];
    }

    /* 8.4.4.2.3 smoothing */
    if (c_idx == 0 && mode != 1 && n > 4) {
        long dist = mode - 26; if (dist < 0) dist = -dist;
        long d2 = mode - 10; if (d2 < 0) d2 = -d2;
        if (d2 < dist) dist = d2;
        long thres = (n == 8) ? 7 : (n == 16) ? 1 : (n == 32) ? 0 : 10;
        if (mode == 0 || dist > thres) {
            long long gt = corner + top[n2 - 1] - 2 * top[n - 1];
            long long gl = corner + left[n2 - 1] - 2 * left[n - 1];
            if (gt < 0) gt = -gt;
            if (gl < 0) gl = -gl;
            if (strong && n == 32 && gt < 8 && gl < 8) {
                long long tl = top[n2 - 1], ll = left[n2 - 1];
                for (long i = 0; i < n2 - 1; i++) {
                    top[i] = ((63 - i) * corner + (i + 1) * tl + 32) >> 6;
                    left[i] = ((63 - i) * corner + (i + 1) * ll + 32) >> 6;
                }
            } else {
                long long fl[64], ft[64];
                long long fc = (left[0] + 2 * corner + top[0] + 2) >> 2;
                fl[0] = (corner + 2 * left[0] + left[1] + 2) >> 2;
                ft[0] = (corner + 2 * top[0] + top[1] + 2) >> 2;
                for (long i = 1; i < n2 - 1; i++) {
                    fl[i] = (left[i - 1] + 2 * left[i] + left[i + 1] + 2) >> 2;
                    ft[i] = (top[i - 1] + 2 * top[i] + top[i + 1] + 2) >> 2;
                }
                fl[n2 - 1] = left[n2 - 1];
                ft[n2 - 1] = top[n2 - 1];
                memcpy(left, fl, sizeof(long long) * (size_t)n2);
                memcpy(top, ft, sizeof(long long) * (size_t)n2);
                corner = fc;
            }
        }
    }

    long long pred[32 * 32];
    long shift = 0;
    { long t = n; while (t) { shift++; t >>= 1; } } /* == bit_length */
    if (mode == 0) { /* planar 8.4.4.2.4 */
        long long tn = top[n], ln = left[n];
        for (long yy = 0; yy < n; yy++)
            for (long xx = 0; xx < n; xx++)
                pred[yy * n + xx] =
                    ((n - 1 - xx) * left[yy] + (xx + 1) * tn
                     + (n - 1 - yy) * top[xx] + (yy + 1) * ln + n) >> shift;
    } else if (mode == 1) { /* DC 8.4.4.2.5 */
        long long s = 0;
        for (long k = 0; k < n; k++) s += top[k] + left[k];
        long long dc = (s + n) >> shift;
        for (long i = 0; i < n * n; i++) pred[i] = dc;
        if (c_idx == 0 && n < 32) {
            for (long xx = 1; xx < n; xx++)
                pred[xx] = (top[xx] + 3 * dc + 2) >> 2;
            for (long yy = 1; yy < n; yy++)
                pred[yy * n] = (left[yy] + 3 * dc + 2) >> 2;
            pred[0] = (left[0] + 2 * dc + top[0] + 2) >> 2;
        }
    } else { /* angular 8.4.4.2.6 */
        long long angle = PRED_ANGLE_T[mode - 2];
        long long ref[98]; /* 3*32 + 2 */
        long base = n;
        const long long *main_a = (mode >= 18) ? top : left;
        const long long *side_a = (mode >= 18) ? left : top;
        for (long i = 0; i < 3 * n + 2; i++) ref[i] = 0;
        ref[base] = corner;
        for (long k = 0; k < n2; k++) ref[base + 1 + k] = main_a[k];
        if (angle < 0) {
            long lo = (long)((n * angle) >> 5);
            if (lo < -1) {
                long long inv = INV_ANGLE_T[mode - 2];
                for (long x = -1; x >= lo; x--) {
                    long long idx = ((x * inv + 128) >> 8) - 1;
                    long long v;
                    if (idx < 0) v = corner;
                    else {
                        long ci = (long)idx;
                        if (ci > n2 - 1) ci = n2 - 1;
                        v = side_a[ci];
                    }
                    ref[base + x] = v;
                }
            }
        }
        if (mode >= 18) { /* vertical arm */
            for (long yy = 0; yy < n; yy++) {
                long long ia = (yy + 1) * angle;
                long ii = (long)(ia >> 5);
                long long ff = ia & 31;
                const long long *r = ref + base + 1 + ii;
                for (long xx = 0; xx < n; xx++)
                    pred[yy * n + xx] =
                        ((32 - ff) * r[xx] + ff * r[xx + 1] + 16) >> 5;
            }
            if (mode == 26 && c_idx == 0 && n < 32) {
                long long t0v = top[0];
                for (long yy = 0; yy < n; yy++) {
                    long long v = t0v + ((left[yy] - corner) >> 1);
                    if (v < 0) v = 0; else if (v > 255) v = 255;
                    pred[yy * n] = v;
                }
            }
        } else { /* horizontal arm, modes 2..17 */
            for (long xx = 0; xx < n; xx++) {
                long long ia = (xx + 1) * angle;
                long ii = (long)(ia >> 5);
                long long ff = ia & 31;
                const long long *r = ref + base + 1 + ii;
                for (long yy = 0; yy < n; yy++)
                    pred[yy * n + xx] =
                        ((32 - ff) * r[yy] + ff * r[yy + 1] + 16) >> 5;
            }
            if (mode == 10 && c_idx == 0 && n < 32) {
                long long l0v = left[0];
                for (long xx = 0; xx < n; xx++) {
                    long long v = l0v + ((top[xx] - corner) >> 1);
                    if (v < 0) v = 0; else if (v > 255) v = 255;
                    pred[xx] = v;
                }
            }
        }
    }

    for (long yy = 0; yy < n; yy++) {
        long long *prow = plane + (y0 + yy) * pw + x0;
        const long long *rr = res ? res + yy * n : 0;
        for (long xx = 0; xx < n; xx++) {
            long long v = pred[yy * n + xx] + (rr ? rr[xx] : 0);
            if (v < 0) v = 0; else if (v > 255) v = 255;
            prow[xx] = v;
        }
    }
    if (set_avail)
        for (long yy = 0; yy < n; yy++)
            memset(avail + (y0 + yy) * pw + x0, 1, (size_t)n);
}
"""

_LIB = None
_TRIED = False


def _gcc(out: str) -> None:
    subprocess.run(
        ["gcc", "-O2", "-fPIC", "-shared", "-x", "c", "-o", out, "-"],
        input=_C_SOURCE.encode(), check=True, capture_output=True, timeout=120,
    )


def _build_and_load():
    lib = ctypes.CDLL(cached_build("hevcres.so", _C_SOURCE, _gcc))
    c8 = ctypes.POINTER(ctypes.c_int8)
    i64 = ctypes.POINTER(ctypes.c_int64)
    lib.hevcres_set_tables.argtypes = [
        ctypes.c_char_p, ctypes.c_char_p, ctypes.c_char_p,
        ctypes.c_char_p, ctypes.c_char_p, ctypes.c_long,
    ]
    lib.hevcres_set_tables.restype = None
    lib.hevc_residual.argtypes = [
        ctypes.c_char_p, ctypes.c_long, i64, c8,
        ctypes.c_long, ctypes.c_long, ctypes.c_long, i64, i64,
    ]
    lib.hevc_residual.restype = ctypes.c_long
    lib.hevc_residual_tx.argtypes = [
        ctypes.c_char_p, ctypes.c_long, i64, c8,
        ctypes.c_long, ctypes.c_long, ctypes.c_long,
        ctypes.c_long, ctypes.c_long, i64, i64,
    ]
    lib.hevc_residual_tx.restype = ctypes.c_long
    lib.hevcres_set_tx.argtypes = [i64, i64, i64, i64, i64, i64]
    lib.hevcres_set_tx.restype = None
    lib.hevcres_set_mc_filters.argtypes = [i64, i64]
    lib.hevcres_set_mc_filters.restype = None
    mc_sig = [
        i64, ctypes.c_long, ctypes.c_long, ctypes.c_long,
        ctypes.c_long, ctypes.c_long, ctypes.c_long, ctypes.c_long,
        i64,
    ]
    lib.hevc_mc_luma.argtypes = mc_sig
    lib.hevc_mc_luma.restype = None
    lib.hevc_mc_chroma.argtypes = mc_sig
    lib.hevc_mc_chroma.restype = None
    lib.hevc_inter_pred.argtypes = [
        i64, i64,
        ctypes.c_long, ctypes.c_long, ctypes.c_long, ctypes.c_long,
        ctypes.c_long, ctypes.c_long, ctypes.c_long, ctypes.c_long,
        ctypes.c_long, ctypes.c_long, i64, ctypes.c_long,
    ]
    lib.hevc_inter_pred.restype = None
    lib.hevcres_set_intra.argtypes = [i64, i64]
    lib.hevcres_set_intra.restype = None
    lib.hevc_intra_recon.argtypes = [
        i64, ctypes.POINTER(ctypes.c_uint8),
        ctypes.c_long, ctypes.c_long, ctypes.c_long, ctypes.c_long,
        ctypes.c_long, ctypes.c_long, ctypes.c_long, ctypes.c_long,
        i64, ctypes.c_long,
    ]
    lib.hevc_intra_recon.restype = None
    return lib


def get_lib():
    """Build (once per machine, cached) and load the residual kernel.
    Returns None when native support is unavailable — callers fall
    back to the pure-Python path."""
    global _LIB, _TRIED
    if not _TRIED:
        _TRIED = True
        try:
            _LIB = _build_and_load()
        except Exception:
            _LIB = None
    return _LIB
