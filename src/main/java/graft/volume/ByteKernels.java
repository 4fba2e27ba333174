package graft.volume;

import java.lang.invoke.MethodHandles;
import java.lang.invoke.VarHandle;
import java.nio.ByteOrder;

/**
 * Hot-loop byte kernels for the volume encode path, in Java because Scala
 * 2.13 cannot invoke {@link VarHandle} signature-polymorphic methods
 * without boxing. Two families:
 *
 * <ul>
 *   <li>Single-pass blosc byte-shuffle ({@code shuffleInto}): the
 *       per-plane Scala loop made {@code typesize} strided passes over the
 *       source block, touching every cache line once per plane (4 effective
 *       read passes for uint32). This form reads each 8-element group once
 *       (sequential longs) and scatters its bytes to all planes from
 *       registers -- one read pass, {@code t} sequential write streams.</li>
 *   <li>Per-chunk unsigned/signed min-max ({@code minMax}, the entries of
 *       {@code ChunkStore}'s label value index): the generic
 *       per-byte {@code decodeLong} loop costs ~6 ops/byte; these widen a
 *       whole element per load and let C2 keep the running min/max in
 *       registers.</li>
 * </ul>
 *
 * All methods are exact drop-ins for the Scala forms they replace; the
 * ZarrInteropSpec round-trips and the ChunkStore value-index suite pin
 * equivalence.
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
    switch (t) {
      case 4: shuffle4(src, off, len, out); return;
      case 2: shuffle2(src, off, len, out); return;
      case 8: shuffle8(src, off, len, out); return;
      default: shuffleGeneric(src, off, len, t, out);
    }
  }

  private static void shuffleGeneric(byte[] src, int off, int len, int t, byte[] out) {
    int n = len / t;
    for (int k = 0; k < t; k++) {
      int kn = k * n;
      for (int i = 0; i < n; i++) out[kn + i] = src[off + i * t + k];
    }
    for (int r = n * t; r < len; r++) out[r] = src[off + r];
  }

  private static void shuffle4(byte[] src, int off, int len, byte[] out) {
    int n = len / 4;
    int m = n & ~7; // multiple-of-8 element prefix
    int p1 = n, p2 = 2 * n, p3 = 3 * n;
    int p = off;
    for (int e = 0; e < m; e += 8) {
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
    for (int e = m; e < n; e++) {
      int s = off + e * 4;
      out[e] = src[s];
      out[p1 + e] = src[s + 1];
      out[p2 + e] = src[s + 2];
      out[p3 + e] = src[s + 3];
    }
    for (int r = n * 4; r < len; r++) out[r] = src[off + r];
  }

  private static void shuffle2(byte[] src, int off, int len, byte[] out) {
    int n = len / 2;
    int m = n & ~3; // 4 elements per 8-byte load
    int p = off;
    for (int e = 0; e < m; e += 4) {
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
    for (int e = m; e < n; e++) {
      int s = off + e * 2;
      out[e] = src[s];
      out[n + e] = src[s + 1];
    }
    for (int r = n * 2; r < len; r++) out[r] = src[off + r];
  }

  private static void shuffle8(byte[] src, int off, int len, byte[] out) {
    int n = len / 8;
    // one element per load; scatter its 8 bytes across the planes --
    // plane writes are byte-wise but each plane advances sequentially
    int p = off;
    for (int e = 0; e < n; e++) {
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
    for (int r = n * 8; r < len; r++) out[r] = src[off + r];
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
