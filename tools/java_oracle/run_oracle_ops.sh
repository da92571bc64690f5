#!/bin/bash
# Goldens for the F8 debug curvature renders and their Java2D calibration
# probe. Complements run_oracle.sh; the produced PNGs are committed so CI never
# needs Java. The dumps for the deleted rotation, skew, line-erasure, resolver,
# Sobel and RGB->gray operators (and their inputs) are in commit 871d1ef.
set -euo pipefail

REF=/root/reference
REPO="$(cd "$(dirname "$0")/../.." && pwd)"
BUILD=$(mktemp -d)
GOLD="$REPO/tests/goldens"
mkdir -p "$GOLD"

javac -nowarn -encoding UTF-8 -d "$BUILD" $(find "$REF/src" -name '*.java')
javac -nowarn -encoding UTF-8 -cp "$BUILD" -d "$BUILD" "$REPO/tools/java_oracle/GoldenDump.java"

J="java -Djava.awt.headless=true -cp $BUILD org.terifan.ocr.GoldenDump"

# F8 debug curvature renders + the Java2D AA/SrcOver calibration probe.
# debugbmp dumps the full learned sheet to a temp dir; only the diverse
# subset named in tests/test_debug_render.py is committed (runs verify all).
mkdir -p "$GOLD/debugbmp"
$J aaprobe "$GOLD/aaprobe.png"
F8TMP=$(mktemp -d)
trap 'rm -rf "$F8TMP"' EXIT
$J debugbmp "$REF/src/org/terifan/ocr/fonts/arial.png" arial "$F8TMP"
for f in debugbmp_0_1_1 debugbmp_12_853_1 debugbmp_22_640_70 debugbmp_32_427_139 \
         debugbmp_35_640_139 debugbmp_52_1_277 debugbmp_61_640_277 debugbmp_62_1_346 \
         debugbmp_64_143_346 debugbmp_66_285_346 debugbmp_68_427_346 debugbmp_71_640_346; do
  cp "$F8TMP/$f.png" "$GOLD/debugbmp/$f.png"
done
rm -rf "$F8TMP"; F8TMP=$(mktemp -d)
$J debugbmp "$REF/src/org/terifan/ocr/fonts/courier.png" courier "$F8TMP"
cp "$F8TMP/debugbmp_0_1_1.png"      "$GOLD/debugbmp/courier_debugbmp_0_1_1.png"
cp "$F8TMP/debugbmp_64_569_346.png" "$GOLD/debugbmp/courier_debugbmp_64_569_346.png"
rm -rf "$F8TMP"; F8TMP=$(mktemp -d)
# matrix-size-16 variants (n-generic geometry check; default engine size is 9)
$J debugbmp "$REF/src/org/terifan/ocr/fonts/arial.png" arial "$F8TMP" 16
cp "$F8TMP/debugbmp_0_1_1.png"   "$GOLD/debugbmp/ms16_debugbmp_0_1_1.png"
cp "$F8TMP/debugbmp_9_640_1.png" "$GOLD/debugbmp/ms16_debugbmp_9_640_1.png"
rm -rf "$F8TMP"; F8TMP=$(mktemp -d)
# classify-path sheets (scan-derived char boxes; pad/spacing = scan-golden protocol)
$J debugscan "$REF/src/org/terifan/ocr2/test_string_3.png" 8 10 "$F8TMP"
for f in debugscan_10_10_27_31 debugscan_123_11_26_39 debugscan_226_11_13_39 debugscan_306_38_5_6; do
  cp "$F8TMP/$f.png" "$GOLD/debugbmp/$f.png"
done
rm -rf "$F8TMP"

rm -rf "$BUILD"
echo "aux goldens written to $GOLD"

