package graft.volume;

import java.lang.invoke.MethodHandles;
import java.lang.invoke.VarHandle;
import java.nio.ByteOrder;
import java.util.Arrays;

/**
 * Hot-loop byte kernels for the volume encode and decode paths, in Java
 * because Scala 2.13 cannot invoke {@link VarHandle} signature-polymorphic
 * methods without boxing. Four families:
 *
 * <ul>
 *   <li>Single-pass blosc byte-shuffle ({@code shuffleInto}): the
 *       per-plane Scala loop made {@code typesize} strided passes over the
 *       source block, touching every cache line once per plane (4 effective
 *       read passes for uint32). This form reads each 8-element group once
 *       (sequential longs) and scatters its bytes to all planes from
 *       registers -- one read pass, {@code t} sequential write streams.
 *       The t-specialised kernels work on an element range of the block,
 *       so the row-repeat form below can call them on the rows it must
 *       shuffle.</li>
 *   <li>Row-repeat byte-shuffle ({@code shuffleRowsInto}): the same
 *       output, for a block cut from a C-order chunk whose rows are
 *       {@code rowLen} bytes. A x{@code s} nearest-neighbour child repeats
 *       each row s times, so most rows of a block equal the row before
 *       them. Such a row's t plane segments are copied from the previous
 *       row's, which are already shuffled. This is exact: plane k of
 *       elements [e, e + r) is byte k of each of those elements, so two
 *       byte-equal element runs have byte-equal plane segments. Only a row
 *       whose predecessor lies wholly inside the same block is copied;
 *       every other element goes through the range kernels.</li>
 *   <li>Single-pass blosc byte-unshuffle ({@code unshuffleInto}), the
 *       inverse, written straight into the decoded chunk at the block's
 *       offset: one read stream per plane, one sequential write stream.</li>
 *   <li>Per-chunk unsigned/signed min-max ({@code minMax}, the entries of
 *       {@code ChunkStore}'s label value index): the generic
 *       per-byte {@code decodeLong} loop costs ~6 ops/byte; these widen a
 *       whole element per load and let C2 keep the running min/max in
 *       registers.</li>
 * </ul>
 *
 * All methods are exact drop-ins for the Scala forms they replace;
 * ByteKernelsSpec pins each against a per-byte reference, and the
 * ZarrInteropSpec round-trips and the ChunkStore value-index suite pin
 * equivalence end to end.
 */
public final class ByteKernels {
  private ByteKernels() {}

  private static final VarHandle LONG_LE =
      MethodHandles.byteArrayViewVarHandle(long[].class, ByteOrder.LITTLE_ENDIAN);
  private static final VarHandle INT_LE =
      MethodHandles.byteArrayViewVarHandle(int[].class, ByteOrder.LITTLE_ENDIAN);
  private static final VarHandle SHORT_LE =
      MethodHandles.byteArrayViewVarHandle(short[].class, ByteOrder.LITTLE_ENDIAN);

  /**
   * Blosc byte shuffle of {@code src[off, off+len)} with element width
   * {@code t} into {@code out[0, len)} (which must be at least {@code len}
   * long). Plane k of the output holds byte k of every element; the
   * sub-typesize tail ({@code len % t} bytes) is copied verbatim, matching
   * c-blosc's {@code shuffle()}.
   */
  public static void shuffleInto(byte[] src, int off, int len, int t, byte[] out) {
    int n = len / t;
    shuffleRange(src, off, n, t, 0, n, out);
    copyTail(src, off, len, n * t, out);
  }

  /**
   * {@link #shuffleInto}'s exact output for a block of a C-order payload
   * whose rows start at multiples of {@code rowLen} in {@code src}. A row
   * (or the block's last, cut row) byte-equal to the {@code rowLen} bytes
   * before it, when those lie in the block, copies its plane segments from
   * that row's; the other elements are shuffled. A {@code rowLen} that is
   * not positive, not below {@code len}, or not a multiple of {@code t},
   * an {@code off} that is not a multiple of {@code t}, and {@code t = 1}
   * all take {@link #shuffleInto} as it is.
   */
  public static void shuffleRowsInto(byte[] src, int off, int len, int t, int rowLen, byte[] out) {
    if (t == 1 || rowLen <= 0 || rowLen >= len || rowLen % t != 0 || off % t != 0) {
      shuffleInto(src, off, len, t, out);
      return;
    }
    int n = len / t;
    int end = off + n * t; // the tail past the last whole element is copied
    int rowE = rowLen / t;
    int done = 0; // elements [0, done) of every plane are written
    // the first row starting in the block has no predecessor wholly
    // inside it, so copies start one row later
    long first = ((long) off + rowLen - 1) / rowLen * rowLen + rowLen;
    for (long q = first; q < end; q += rowLen) {
      int p = (int) q;
      int seg = Math.min(rowLen, end - p);
      if (Arrays.equals(src, p, p + seg, src, p - rowLen, p - rowLen + seg)) {
        int e = (p - off) / t;
        if (e > done) shuffleRange(src, off, n, t, done, e, out);
        int segE = seg / t;
        for (int k = 0, at = e; k < t; k++, at += n) System.arraycopy(out, at - rowE, out, at, segE);
        done = e + segE;
      }
    }
    if (n > done) shuffleRange(src, off, n, t, done, n, out);
    copyTail(src, off, len, n * t, out);
  }

  /**
   * Elements [e0, e1) of the block at {@code off} holding {@code n} whole
   * elements: byte k of element e goes to {@code out[k*n + e]}.
   */
  private static void shuffleRange(byte[] src, int off, int n, int t, int e0, int e1, byte[] out) {
    switch (t) {
      case 4: shuffle4(src, off, n, e0, e1, out); return;
      case 2: shuffle2(src, off, n, e0, e1, out); return;
      case 8: shuffle8(src, off, n, e0, e1, out); return;
      case 1: System.arraycopy(src, off + e0, out, e0, e1 - e0); return;
      default: shuffleGeneric(src, off, n, t, e0, e1, out);
    }
  }

  private static void copyTail(byte[] src, int off, int len, int whole, byte[] out) {
    System.arraycopy(src, off + whole, out, whole, len - whole);
  }

  private static void shuffleGeneric(byte[] src, int off, int n, int t, int e0, int e1, byte[] out) {
    for (int k = 0; k < t; k++) {
      int kn = k * n;
      for (int i = e0; i < e1; i++) out[kn + i] = src[off + i * t + k];
    }
  }

  private static void shuffle4(byte[] src, int off, int n, int e0, int e1, byte[] out) {
    int m = e0 + ((e1 - e0) & ~7); // multiple-of-8 element prefix
    int p1 = n, p2 = 2 * n, p3 = 3 * n;
    int p = off + e0 * 4;
    for (int e = e0; e < m; e += 8) {
      long a = (long) LONG_LE.get(src, p);
      long b = (long) LONG_LE.get(src, p + 8);
      long c = (long) LONG_LE.get(src, p + 16);
      long d = (long) LONG_LE.get(src, p + 24);
      p += 32;
      long q0 = (a & 0xffL) | ((a >>> 32) & 0xffL) << 8
              | (b & 0xffL) << 16 | ((b >>> 32) & 0xffL) << 24
              | (c & 0xffL) << 32 | ((c >>> 32) & 0xffL) << 40
              | (d & 0xffL) << 48 | (d >>> 32) << 56;
      long q1 = ((a >>> 8) & 0xffL) | ((a >>> 40) & 0xffL) << 8
              | ((b >>> 8) & 0xffL) << 16 | ((b >>> 40) & 0xffL) << 24
              | ((c >>> 8) & 0xffL) << 32 | ((c >>> 40) & 0xffL) << 40
              | ((d >>> 8) & 0xffL) << 48 | (d >>> 40) << 56;
      long q2 = ((a >>> 16) & 0xffL) | ((a >>> 48) & 0xffL) << 8
              | ((b >>> 16) & 0xffL) << 16 | ((b >>> 48) & 0xffL) << 24
              | ((c >>> 16) & 0xffL) << 32 | ((c >>> 48) & 0xffL) << 40
              | ((d >>> 16) & 0xffL) << 48 | (d >>> 48) << 56;
      long q3 = ((a >>> 24) & 0xffL) | ((a >>> 56) & 0xffL) << 8
              | ((b >>> 24) & 0xffL) << 16 | ((b >>> 56) & 0xffL) << 24
              | ((c >>> 24) & 0xffL) << 32 | ((c >>> 56) & 0xffL) << 40
              | ((d >>> 24) & 0xffL) << 48 | (d >>> 56) << 56;
      LONG_LE.set(out, e, q0);
      LONG_LE.set(out, p1 + e, q1);
      LONG_LE.set(out, p2 + e, q2);
      LONG_LE.set(out, p3 + e, q3);
    }
    for (int e = m; e < e1; e++) {
      int s = off + e * 4;
      out[e] = src[s];
      out[p1 + e] = src[s + 1];
      out[p2 + e] = src[s + 2];
      out[p3 + e] = src[s + 3];
    }
  }

  private static void shuffle2(byte[] src, int off, int n, int e0, int e1, byte[] out) {
    int m = e0 + ((e1 - e0) & ~3); // 4 elements per 8-byte load
    int p = off + e0 * 2;
    for (int e = e0; e < m; e += 4) {
      long a = (long) LONG_LE.get(src, p);
      p += 8;
      int q0 = (int) ((a & 0xffL)
          | ((a >>> 16) & 0xffL) << 8
          | ((a >>> 32) & 0xffL) << 16
          | ((a >>> 48) & 0xffL) << 24);
      int q1 = (int) (((a >>> 8) & 0xffL)
          | ((a >>> 24) & 0xffL) << 8
          | ((a >>> 40) & 0xffL) << 16
          | (a >>> 56) << 24);
      INT_LE.set(out, e, q0);
      INT_LE.set(out, n + e, q1);
    }
    for (int e = m; e < e1; e++) {
      int s = off + e * 2;
      out[e] = src[s];
      out[n + e] = src[s + 1];
    }
  }

  private static void shuffle8(byte[] src, int off, int n, int e0, int e1, byte[] out) {
    // one element per load; scatter its 8 bytes across the planes --
    // plane writes are byte-wise but each plane advances sequentially
    int p = off + e0 * 8;
    for (int e = e0; e < e1; e++) {
      long a = (long) LONG_LE.get(src, p);
      p += 8;
      out[e] = (byte) a;
      out[n + e] = (byte) (a >>> 8);
      out[2 * n + e] = (byte) (a >>> 16);
      out[3 * n + e] = (byte) (a >>> 24);
      out[4 * n + e] = (byte) (a >>> 32);
      out[5 * n + e] = (byte) (a >>> 40);
      out[6 * n + e] = (byte) (a >>> 48);
      out[7 * n + e] = (byte) (a >>> 56);
    }
  }

  /**
   * Inverse of {@link #shuffleInto}: the shuffled block
   * {@code src[soff, soff+len)} of element width {@code t} back to element
   * order in {@code out[ooff, ooff+len)}; the {@code len % t} tail is
   * copied verbatim.
   */
  public static void unshuffleInto(byte[] src, int soff, int len, int t, byte[] out, int ooff) {
    int n = len / t;
    switch (t) {
      case 4: unshuffle4(src, soff, n, out, ooff); break;
      case 2: unshuffle2(src, soff, n, out, ooff); break;
      case 8: unshuffle8(src, soff, n, out, ooff); break;
      case 1: System.arraycopy(src, soff, out, ooff, n); break;
      default:
        for (int k = 0; k < t; k++) {
          int kn = soff + k * n;
          for (int i = 0; i < n; i++) out[ooff + i * t + k] = src[kn + i];
        }
    }
    System.arraycopy(src, soff + n * t, out, ooff + n * t, len - n * t);
  }

  /** Byte {@code s/8} of q0..q3 then byte {@code s/8 + 1}: two 4-byte elements. */
  private static long gather4(long q0, long q1, long q2, long q3, int s) {
    return ((q0 >>> s) & 0xffL) | ((q1 >>> s) & 0xffL) << 8
        | ((q2 >>> s) & 0xffL) << 16 | ((q3 >>> s) & 0xffL) << 24
        | ((q0 >>> (s + 8)) & 0xffL) << 32 | ((q1 >>> (s + 8)) & 0xffL) << 40
        | ((q2 >>> (s + 8)) & 0xffL) << 48 | ((q3 >>> (s + 8)) & 0xffL) << 56;
  }

  private static void unshuffle4(byte[] src, int soff, int n, byte[] out, int ooff) {
    int m = n & ~7;
    int s1 = soff + n, s2 = soff + 2 * n, s3 = soff + 3 * n;
    int p = ooff;
    for (int e = 0; e < m; e += 8) {
      long q0 = (long) LONG_LE.get(src, soff + e);
      long q1 = (long) LONG_LE.get(src, s1 + e);
      long q2 = (long) LONG_LE.get(src, s2 + e);
      long q3 = (long) LONG_LE.get(src, s3 + e);
      LONG_LE.set(out, p, gather4(q0, q1, q2, q3, 0));
      LONG_LE.set(out, p + 8, gather4(q0, q1, q2, q3, 16));
      LONG_LE.set(out, p + 16, gather4(q0, q1, q2, q3, 32));
      LONG_LE.set(out, p + 24, gather4(q0, q1, q2, q3, 48));
      p += 32;
    }
    for (int e = m; e < n; e++) {
      int o = ooff + e * 4;
      out[o] = src[soff + e];
      out[o + 1] = src[s1 + e];
      out[o + 2] = src[s2 + e];
      out[o + 3] = src[s3 + e];
    }
  }

  /** Bytes {@code s/8 .. s/8 + 3} of q0 and q1, interleaved: four 2-byte elements. */
  private static long gather2(long q0, long q1, int s) {
    return ((q0 >>> s) & 0xffL) | ((q1 >>> s) & 0xffL) << 8
        | ((q0 >>> (s + 8)) & 0xffL) << 16 | ((q1 >>> (s + 8)) & 0xffL) << 24
        | ((q0 >>> (s + 16)) & 0xffL) << 32 | ((q1 >>> (s + 16)) & 0xffL) << 40
        | ((q0 >>> (s + 24)) & 0xffL) << 48 | ((q1 >>> (s + 24)) & 0xffL) << 56;
  }

  private static void unshuffle2(byte[] src, int soff, int n, byte[] out, int ooff) {
    int m = n & ~7;
    int s1 = soff + n;
    int p = ooff;
    for (int e = 0; e < m; e += 8) {
      long q0 = (long) LONG_LE.get(src, soff + e);
      long q1 = (long) LONG_LE.get(src, s1 + e);
      LONG_LE.set(out, p, gather2(q0, q1, 0));
      LONG_LE.set(out, p + 8, gather2(q0, q1, 32));
      p += 16;
    }
    for (int e = m; e < n; e++) {
      out[ooff + e * 2] = src[soff + e];
      out[ooff + e * 2 + 1] = src[s1 + e];
    }
  }

  private static void unshuffle8(byte[] src, int soff, int n, byte[] out, int ooff) {
    // gather one element's 8 bytes from the planes, one long store
    int p = ooff;
    for (int e = 0; e < n; e++) {
      int s = soff + e;
      long a = (src[s] & 0xffL)
          | (src[s + n] & 0xffL) << 8
          | (src[s + 2 * n] & 0xffL) << 16
          | (src[s + 3 * n] & 0xffL) << 24
          | (src[s + 4 * n] & 0xffL) << 32
          | (src[s + 5 * n] & 0xffL) << 40
          | (src[s + 6 * n] & 0xffL) << 48
          | (src[s + 7 * n] & 0xffL) << 56;
      LONG_LE.set(out, p, a);
      p += 8;
    }
  }

  /**
   * Widened (min, max) over {@code nElems} little-endian elements of width
   * {@code bpp}; unsigned types widen, signed sign-extend -- exactly
   * {@code ChunkKernels.decodeLong} folded over the block, one element per
   * load instead of one byte.
   */
  public static long[] minMax(byte[] data, int nElems, int bpp, boolean unsigned) {
    long mn = Long.MAX_VALUE, mx = Long.MIN_VALUE;
    switch (bpp) {
      case 1: {
        if (unsigned) {
          for (int i = 0; i < nElems; i++) {
            long v = data[i] & 0xffL;
            if (v < mn) mn = v;
            if (v > mx) mx = v;
          }
        } else {
          for (int i = 0; i < nElems; i++) {
            long v = data[i];
            if (v < mn) mn = v;
            if (v > mx) mx = v;
          }
        }
        break;
      }
      case 2: {
        for (int i = 0; i < nElems; i++) {
          short s = (short) SHORT_LE.get(data, i * 2);
          long v = unsigned ? (s & 0xffffL) : s;
          if (v < mn) mn = v;
          if (v > mx) mx = v;
        }
        break;
      }
      case 4: {
        for (int i = 0; i < nElems; i++) {
          int s = (int) INT_LE.get(data, i * 4);
          long v = unsigned ? (s & 0xffffffffL) : s;
          if (v < mn) mn = v;
          if (v > mx) mx = v;
        }
        break;
      }
      case 8: {
        for (int i = 0; i < nElems; i++) {
          long v = (long) LONG_LE.get(data, i * 8);
          if (v < mn) mn = v;
          if (v > mx) mx = v;
        }
        break;
      }
      default: {
        for (int i = 0; i < nElems; i++) {
          long v = 0;
          for (int b = 0; b < bpp; b++) v |= (data[i * bpp + b] & 0xffL) << (8 * b);
          if (!unsigned && bpp < 8) {
            int shift = 64 - 8 * bpp;
            v = (v << shift) >> shift;
          }
          if (v < mn) mn = v;
          if (v > mx) mx = v;
        }
      }
    }
    return new long[]{mn, mx};
  }

  /**
   * Byte-array allocation hook for fully-overwritten kernel buffers.
   * MEASURED DISCARD (r21): jdk.internal.misc.Unsafe.allocateUninitializedArray
   * via a bound MethodHandle ran 2.5x SLOWER than a plain zeroed `new`
   * on this JVM (2.23 ms vs 0.90 ms per 5.4 MB, steady state) -- the
   * zeroing-elision intrinsic only engages for direct compiled calls,
   * which application code cannot make (getUnsafe() rejects unnamed-module
   * callers and theUnsafe is private), and the MethodHandle slow path
   * costs more than the zeroing it avoids. Kept as the single
   * allocation point so the experiment is re-runnable.
   */
  public static byte[] allocBytes(int n) {
    return new byte[n];
  }
}
