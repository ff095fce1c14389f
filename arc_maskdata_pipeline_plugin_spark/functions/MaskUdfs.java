package sparkgraft;

import java.io.Serializable;
import java.math.BigDecimal;
import java.math.MathContext;
import java.nio.ByteBuffer;
import java.nio.charset.StandardCharsets;
import java.security.GeneralSecurityException;
import java.security.SecureRandom;
import java.sql.Timestamp;
import java.time.Instant;
import java.time.LocalDate;
import java.time.LocalDateTime;
import java.time.ZoneOffset;
import java.time.temporal.ChronoUnit;
import java.util.Arrays;
import java.util.Base64;
import java.util.LinkedHashMap;
import java.util.Map;
import javax.crypto.Mac;
import javax.crypto.spec.SecretKeySpec;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.api.java.UDF2;
import org.apache.spark.sql.api.java.UDF3;
import org.apache.spark.sql.api.java.UDF4;
import org.apache.spark.sql.api.java.UDF5;
import org.apache.spark.sql.catalyst.util.DateTimeUtils;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;

/**
 * The seven mask functions under the HmacSHA512 codec, as JVM UDFs.
 *
 * <p>Each function returns what its {@code mask_*_value} function in
 * {@code functions/masking.py} returns under {@code HmacSHA512}, bit for bit;
 * the tests compare them row by row. Parameters are evaluated per row. A NULL
 * value masks to NULL before any parameter is looked at, so an over-long
 * {@code length} or format raises only when a value is masked.
 *
 * <p>Key hygiene: a registered UDF holds the passphrase halves and the
 * iteration count, as the pickled pandas closures do. The stretched key lives
 * only in a static per-JVM cache and in per-thread {@link Mac} state, neither
 * of which is serialized with a UDF.
 */
public final class MaskUdfs {
  private static final String ALGORITHM = "HmacSHA512";
  private static final int DIGEST_LENGTH = 64;
  private static final int[] DEFAULT_ALPHABET =
      "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ".codePoints().toArray();
  private static final int[] DIGITS = "0123456789".codePoints().toArray();
  private static final SecureRandom RANDOM = new SecureRandom();
  /** PBKDF2 stretches by salt and iteration count, bounded like the Python cache. */
  private static final Map<String, byte[]> KEYS =
      new LinkedHashMap<String, byte[]>(16, 0.75f, true) {
        @Override
        protected boolean removeEldestEntry(Map.Entry<String, byte[]> eldest) {
          return size() > 16;
        }
      };

  private MaskUdfs() {}

  /** Register the seven functions as {@code prefix + name} on {@code spark}. */
  public static void register(
      SparkSession spark, String prefix, byte[] passphrase, int stretchIterations) {
    Hasher h = new Hasher(passphrase, stretchIterations);
    UDF3<Object, Object, String, String> maskString =
        (length, det, v) ->
            v == null ? null : maskString(h, DEFAULT_ALPHABET, null, length, det, v);
    UDF4<Object, String, Object, String, String> maskStringAlphabet =
        (length, alphabet, det, v) ->
            v == null ? null : maskString(h, codePoints(alphabet), null, length, det, v);
    UDF5<Object, String, String, Object, String, String> maskStringAlphabetFormat =
        (length, alphabet, fmt, det, v) ->
            v == null
                ? null
                : maskString(h, codePoints(alphabet), param(fmt), length, det, v);
    UDF3<Object, Object, Object, LocalDate> maskDate =
        (range, det, v) -> {
          if (v == null) {
            return null;
          }
          LocalDate d = toLocalDate(v);
          return d.plusDays(h.hashLong(d.toString(), det) % toLong(range));
        };
    UDF3<Object, Object, Object, Instant> maskTimestamp =
        (range, det, v) -> {
          if (v == null) {
            return null;
          }
          Instant t = toInstant(v);
          return t.plus(h.hashLong(utcString(t), det) % toLong(range), ChronoUnit.DAYS);
        };
    UDF3<Object, Object, BigDecimal, BigDecimal> maskDecimal =
        (range, det, v) -> v == null ? null : maskDecimal(h, toDecimal(range), det, v);
    UDF2<Object, String, String> maskCreditCard =
        (det, v) -> v == null ? null : maskCard(h, det, v);

    DataType string = DataTypes.StringType;
    add(spark, prefix + "mask_string", functions.udf(maskString, string));
    add(spark, prefix + "mask_string_alphabet", functions.udf(maskStringAlphabet, string));
    add(
        spark,
        prefix + "mask_string_alphabet_format",
        functions.udf(maskStringAlphabetFormat, string));
    add(spark, prefix + "mask_date", functions.udf(maskDate, DataTypes.DateType));
    add(spark, prefix + "mask_timestamp", functions.udf(maskTimestamp, DataTypes.TimestampType));
    DataType decimal = DataTypes.createDecimalType(38, 18);
    add(spark, prefix + "mask_decimal", functions.udf(maskDecimal, decimal));
    add(spark, prefix + "mask_credit_card", functions.udf(maskCreditCard, string));
  }

  // deterministic=false draws random bytes, so Catalyst must not merge calls
  private static void add(SparkSession spark, String name, UserDefinedFunction udf) {
    spark.udf().register(name, udf.asNondeterministic());
  }

  /** The codec: one HMAC-SHA512 per value under a PBKDF2-stretched key. */
  static final class Hasher implements Serializable {
    private static final long serialVersionUID = 1L;
    /** UTF-8 of the pepper half read as latin-1 chars (Scala's Byte.toChar). */
    private final byte[] pepper;
    private final byte[] salt;
    private final int iterations;
    private transient volatile ThreadLocal<Mac> macs;

    Hasher(byte[] passphrase, int iterations) {
      int half = passphrase.length / 2;
      this.pepper =
          new String(passphrase, 0, half, StandardCharsets.ISO_8859_1)
              .getBytes(StandardCharsets.UTF_8);
      this.salt = Arrays.copyOfRange(passphrase, half, passphrase.length);
      this.iterations = iterations;
    }

    byte[] hash(String value, Object deterministic) {
      if (!toBool(deterministic)) {
        byte[] random = new byte[DIGEST_LENGTH];
        RANDOM.nextBytes(random);
        return random;
      }
      Mac mac = mac();
      mac.update(value.getBytes(StandardCharsets.UTF_8));
      return mac.doFinal(pepper);
    }

    long hashLong(String value, Object deterministic) {
      return ByteBuffer.wrap(hash(value, deterministic)).getLong();
    }

    private Mac mac() {
      ThreadLocal<Mac> local = macs;
      if (local == null) {
        synchronized (this) {
          if (macs == null) {
            macs = ThreadLocal.withInitial(() -> newMac(stretched(salt, iterations)));
          }
          local = macs;
        }
      }
      return local.get();
    }
  }

  private static synchronized byte[] stretched(byte[] salt, int iterations) {
    String id = Base64.getEncoder().encodeToString(salt) + "/" + iterations;
    byte[] key = KEYS.get(id);
    if (key == null) {
      key = pbkdf2(salt, iterations);
      KEYS.put(id, key);
    }
    return key;
  }

  /** PBKDF2-HMAC-SHA512 of the raw salt bytes over themselves: one 64-byte block. */
  static byte[] pbkdf2(byte[] salt, int iterations) {
    Mac prf = newMac(salt);
    prf.update(salt);
    byte[] u = prf.doFinal(new byte[] {0, 0, 0, 1});
    byte[] t = u.clone();
    for (int i = 1; i < iterations; i++) {
      u = prf.doFinal(u);
      for (int j = 0; j < t.length; j++) {
        t[j] ^= u[j];
      }
    }
    return t;
  }

  private static Mac newMac(byte[] key) {
    try {
      Mac mac = Mac.getInstance(ALGORITHM);
      mac.init(new SecretKeySpec(key, ALGORITHM));
      return mac;
    } catch (GeneralSecurityException e) {
      throw new IllegalStateException(e);
    }
  }

  /** {@code alphabet[abs(signed byte) % n]} per digest byte, as code points. */
  private static int[] encode(byte[] digest, int[] alphabet) {
    int[] out = new int[digest.length];
    for (int i = 0; i < digest.length; i++) {
      out[i] = alphabet[Math.abs((int) digest[i]) % alphabet.length];
    }
    return out;
  }

  private static String maskString(
      Hasher h, int[] alphabet, String fmt, Object length, Object det, String value) {
    int[] encoded = encode(h.hash(value, det), alphabet);
    return fmt == null ? truncate(encoded, toLong(length)) : format(encoded, fmt);
  }

  /** {@code truncate_string}: the first {@code length} chars, Python slice semantics. */
  private static String truncate(int[] encoded, long length) {
    if (encoded.length < length) {
      throw new IllegalArgumentException(
          "'" + ALGORITHM + "' cannot produce required " + length
              + " length output based on the input");
    }
    int end = (int) (length >= 0 ? length : Math.max(0, encoded.length + length));
    return new String(encoded, 0, end);
  }

  /** {@code apply_format}: each {@code x} takes the next encoded char. */
  private static String format(int[] encoded, String fmt) {
    StringBuilder out = new StringBuilder(fmt.length());
    int next = 0;
    for (int i = 0; i < fmt.length(); ) {
      int c = fmt.codePointAt(i);
      i += Character.charCount(c);
      if (c != 'x') {
        out.appendCodePoint(c);
      } else if (next < encoded.length) {
        out.appendCodePoint(encoded[next++]);
      } else {
        throw new IllegalArgumentException(
            "'" + ALGORITHM + "' cannot produce required " + pythonRepr(fmt)
                + " format output based on the input");
      }
    }
    return out.toString();
  }

  /** Python's {@code repr} of a str, for error messages equal to the pandas path's. */
  static String pythonRepr(String s) {
    char quote = s.indexOf('\'') >= 0 && s.indexOf('"') < 0 ? '"' : '\'';
    StringBuilder out = new StringBuilder().append(quote);
    s.codePoints()
        .forEach(
            c -> {
              if (c == quote || c == '\\') {
                out.append('\\').appendCodePoint(c);
              } else if (c == '\t') {
                out.append("\\t");
              } else if (c == '\n') {
                out.append("\\n");
              } else if (c == '\r') {
                out.append("\\r");
              } else if (printable(c)) {
                out.appendCodePoint(c);
              } else if (c < 0x100) {
                out.append(String.format("\\x%02x", c));
              } else if (c < 0x10000) {
                out.append(String.format("\\u%04x", c));
              } else {
                out.append(String.format("\\U%08x", c));
              }
            });
    return out.append(quote).toString();
  }

  private static boolean printable(int c) {
    switch (Character.getType(c)) {
      case Character.CONTROL:
      case Character.FORMAT:
      case Character.SURROGATE:
      case Character.PRIVATE_USE:
      case Character.UNASSIGNED:
      case Character.LINE_SEPARATOR:
      case Character.PARAGRAPH_SEPARATOR:
        return false;
      case Character.SPACE_SEPARATOR:
        return c == ' ';
      default:
        return true;
    }
  }

  /**
   * A date argument as Spark stores it (proleptic Gregorian days). Spark hands
   * a Java UDF a {@link java.sql.Date} rebased to the hybrid Julian calendar
   * unless {@code spark.sql.datetime.java8API.enabled}; undo that. Only the
   * ten dates 1582-10-05..14, which the hybrid calendar lacks, do not survive
   * Spark's conversion, so they mask as some other date would.
   */
  private static LocalDate toLocalDate(Object v) {
    return v instanceof LocalDate
        ? (LocalDate) v
        : LocalDate.ofEpochDay(DateTimeUtils.fromJavaDate((java.sql.Date) v));
  }

  /**
   * A timestamp argument as Spark stores it (UTC microseconds). The {@link
   * Timestamp} Spark hands a Java UDF is rebased in the JVM's default zone, so
   * {@code Timestamp.toInstant()} is off before 1900 outside UTC and before
   * 1582 everywhere; undo the rebase. As for dates, instants whose local date
   * in that zone is one of 1582-10-05..14 do not survive the hand-over.
   */
  private static Instant toInstant(Object v) {
    return v instanceof Instant
        ? (Instant) v
        : DateTimeUtils.microsToInstant(DateTimeUtils.fromJavaTimestamp((Timestamp) v));
  }

  /** {@code java_timestamp_str} in UTC: never the JVM's default zone. */
  static String utcString(Instant t) {
    LocalDateTime l = LocalDateTime.ofInstant(t, ZoneOffset.UTC);
    StringBuilder out = new StringBuilder(29);
    pad(out, l.getYear(), 4).append('-');
    pad(out, l.getMonthValue(), 2).append('-');
    pad(out, l.getDayOfMonth(), 2).append(' ');
    pad(out, l.getHour(), 2).append(':');
    pad(out, l.getMinute(), 2).append(':');
    pad(out, l.getSecond(), 2).append('.');
    int nanos = l.getNano();
    if (nanos == 0) {
      return out.append('0').toString();
    }
    int digits = 9;
    while (nanos % 10 == 0) {
      nanos /= 10;
      digits--;
    }
    return pad(out, nanos, digits).toString();
  }

  private static StringBuilder pad(StringBuilder out, int value, int width) {
    String s = Integer.toString(value);
    for (int i = s.length(); i < width; i++) {
      out.append('0');
    }
    return out.append(s);
  }

  /** {@code value + (BigDecimal(hashLong) / BigDecimal(10^scale)) % range}, DECIMAL128. */
  private static BigDecimal maskDecimal(Hasher h, BigDecimal range, Object det, BigDecimal value) {
    BigDecimal random =
        new BigDecimal(h.hashLong(value.toString(), det))
            .divide(new BigDecimal(Math.pow(10, Math.max(0, value.scale()))), MathContext.DECIMAL128);
    return value.add(random.remainder(range, MathContext.DECIMAL128), MathContext.DECIMAL128);
  }

  /** {@code mask_credit_card_value}: keep the BIN and layout, new account digits, Luhn-valid. */
  private static String maskCard(Hasher h, Object det, String value) {
    int[] digits = value.codePoints().filter(Character::isDigit).toArray();
    if (digits.length < 8) {
      throw new IllegalArgumentException(
          "'" + ALGORITHM + "' mask_credit_card requires >= 8 digits, got " + digits.length);
    }
    int[] encoded = encode(h.hash(new String(digits, 0, digits.length), det), DIGITS);
    String account = truncate(encoded, digits.length - 7);
    int[] card = Arrays.copyOf(digits, digits.length);
    for (int i = 0; i < account.length(); i++) {
      card[6 + i] = account.charAt(i);
    }
    card[card.length - 1] = luhnCheckDigit(card, card.length - 1);
    StringBuilder out = new StringBuilder(value.length());
    int next = 0;
    for (int c : value.codePoints().toArray()) {
      out.appendCodePoint(Character.isDigit(c) ? card[next++] : c);
    }
    return out.toString();
  }

  /** The digit that makes {@code body[0..n) + d} Luhn-valid. */
  private static int luhnCheckDigit(int[] body, int n) {
    int total = 0;
    for (int i = 0; i < n; i++) {
      int d = Character.digit(body[n - 1 - i], 10);
      if (i % 2 == 0) {
        d *= 2;
        if (d > 9) {
          d -= 9;
        }
      }
      total += d;
    }
    return '0' + (10 - total % 10) % 10;
  }

  private static int[] codePoints(String alphabet) {
    return param(alphabet).codePoints().toArray();
  }

  private static <T> T param(T value) {
    if (value == null) {
      throw new IllegalArgumentException("mask_* UDF parameter must not be NULL");
    }
    return value;
  }

  private static long toLong(Object value) {
    Object v = param(value);
    return v instanceof Number ? ((Number) v).longValue() : Long.parseLong(v.toString().trim());
  }

  private static boolean toBool(Object value) {
    Object v = param(value);
    return v instanceof Number ? ((Number) v).doubleValue() != 0 : (Boolean) v;
  }

  private static BigDecimal toDecimal(Object value) {
    Object v = param(value);
    return v instanceof BigDecimal ? (BigDecimal) v : new BigDecimal(v.toString());
  }
}
