import java.io.BufferedWriter;
import java.io.OutputStream;
import java.io.OutputStreamWriter;
import java.math.BigInteger;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.security.MessageDigest;
import java.time.LocalDate;
import java.util.ArrayList;
import java.util.Base64;
import java.util.HashMap;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.SplittableRandom;
import java.util.zip.GZIPOutputStream;

import javax.crypto.Cipher;
import javax.crypto.spec.IvParameterSpec;
import javax.crypto.spec.SecretKeySpec;

/**
 * Seeded generator of CDI input: gzip JSONL Kafka envelopes in the
 * corporate-storage layout {@code <root>/<YYYY>/<MM>/<DD>/<db>/<collection>/},
 * with each {@code dbObject} encrypted by javax.crypto AES/CTR/NoPadding.
 * It uses only the JDK, so a defect in the program's own cipher or JSON
 * code cannot cancel itself out.
 *
 * Usage: EnvelopeGen seed outDir firstExportDate days records auditRecords
 *
 * Writes the envelopes under {@code outDir/input} and the ground truth to
 * {@code outDir/truth.json}: the data-key map, per collection and date the
 * valid and malformed line counts, and over the final snapshot the
 * distinct-id count, the delete count and order-independent digests of
 * (id, db_type) and of the deleted ids. Ids are recorded in the canonical
 * form the pipeline derives (compact JSON with sorted keys for object ids,
 * the bare value for primitive ids).
 *
 * Every record carries a random {@code checkToken} as its last field. For
 * ids ingested once, the truth holds an order-independent digest of
 * (id, token), so the record content that reaches the outputs is checked;
 * ids ingested on several dates are listed and left out of that digest,
 * because the program does not order INSERT ties between dates.
 */
public final class EnvelopeGen {
  static final int KEYS_PER_DATE = 4;

  final SplittableRandom rng;
  final Map<String, String> keyMap = new LinkedHashMap<>();
  long inputBytes = 0;
  final MessageDigest inputDigest;

  EnvelopeGen(long seed) throws Exception {
    rng = new SplittableRandom(seed);
    inputDigest = MessageDigest.getInstance("SHA-256");
  }

  /** One collection's generated state across dates. */
  static final class Collection {
    final String db, name;
    final boolean audit;
    final int files;
    /** Canonical id → whether any ingested record of it is a delete. */
    final Map<String, Boolean> known = new LinkedHashMap<>();
    /** Known ids in first-seen order, to draw updates from. */
    final List<String> pool = new ArrayList<>();
    /** Canonical id → the raw JSON the envelope carries. */
    final Map<String, String> raw = new HashMap<>();
    /** Canonical id → the token of its last ingested record. */
    final Map<String, String> token = new HashMap<>();
    /** Canonical id → number of its ingested records. */
    final Map<String, Integer> ingested = new HashMap<>();

    Collection(String db, String name, boolean audit, int files) {
      this.db = db;
      this.name = name;
      this.audit = audit;
      this.files = files;
    }
  }

  String hex(int chars) {
    StringBuilder sb = new StringBuilder(chars);
    while (sb.length() < chars) sb.append(Long.toHexString(rng.nextLong() | Long.MIN_VALUE).substring(1));
    return sb.substring(0, chars);
  }

  String b64(int bytes) {
    byte[] b = new byte[bytes];
    rng.nextBytes(b);
    return Base64.getEncoder().encodeToString(b);
  }

  /** UC incoming date format; the offset form and the Z form both occur. */
  String date(LocalDate day) {
    String s = String.format("%04d-%02d-%02dT%02d:%02d:%02d.%03d",
        day.getYear(), day.getMonthValue(), day.getDayOfMonth(),
        rng.nextInt(24), rng.nextInt(60), rng.nextInt(60), rng.nextInt(1000));
    return s + (rng.nextInt(4) == 0 ? "Z" : "+0000");
  }

  static String q(String s) {
    return "\"" + s + "\"";
  }

  /** Two-character id prefix. The pipeline partitions dailies and
   * snapshots by it (id_part), so its 16 values fix the partitions per
   * date; uniform UUID-like ids would give 256, whose per-file costs
   * outgrow a small run. */
  String prefix() {
    return Integer.toHexString(rng.nextInt(16)) + "a";
  }

  /** A new id as (raw JSON for the envelope, canonical id). */
  String[] newId() {
    int kind = rng.nextInt(100);
    if (kind < 68) {
      String h = prefix() + hex(30);
      return new String[] {"{\"id\":" + q(h) + "}", "{\"id\":" + q(h) + "}"};
    } else if (kind < 80) {
      String h = prefix() + hex(30);
      // unsorted on input; the canonical form sorts keys
      return new String[] {"{\"type\":\"CP\",\"id\":" + q(h) + "}",
          "{\"id\":" + q(h) + ",\"type\":\"CP\"}"};
    } else if (kind < 92) {
      String h = prefix() + hex(22);
      return new String[] {q(h), h};
    } else {
      String n = Long.toString((10 + rng.nextInt(16)) * 10_000_000_000L
          + (rng.nextLong() >>> 1) % 10_000_000_000L);
      return new String[] {n, n};
    }
  }

  /** Filler that carries the log-normal record size (~1 KB median). */
  String filler(int target) {
    StringBuilder sb = new StringBuilder(target);
    while (sb.length() < target) sb.append(hex(16)).append(' ');
    return sb.substring(0, target);
  }

  int recordSize() {
    double z = rng.nextDouble() * 2 - 1 + rng.nextDouble() * 2 - 1 + rng.nextDouble() * 2 - 1;
    return (int) Math.max(200, Math.min(16_000, 1000 * Math.exp(0.8 * z * 1.4)));
  }

  String calcRecord(String rawId, LocalDate day, boolean delete, String token) {
    StringBuilder sb = new StringBuilder(1200);
    sb.append("{\"_id\":").append(rawId);
    int lm = rng.nextInt(10);
    if (lm < 7) sb.append(",\"_lastModifiedDateTime\":").append(q(date(day)));
    else if (lm < 9) sb.append(",\"_lastModifiedDateTime\":{\"$date\":").append(q(date(day))).append('}');
    sb.append(",\"createdDateTime\":").append(q(date(day.minusDays(30))));
    if (delete) sb.append(",\"_removedDateTime\":").append(q(date(day)));
    if (rng.nextInt(50) == 0) sb.append(",\"_archivedDateTime\":").append(q(date(day)));
    sb.append(",\"calculation\":{\"$type\":\"calc\",\"amount\":")
        .append(rng.nextInt(100000)).append('.').append(10 + rng.nextInt(90))
        .append(",\"currency\":\"GBP\",\"periodStart\":").append(q(date(day.minusDays(60))))
        .append(",\"periodEnd\":").append(q(date(day.plusDays(30))))
        .append(",\"lines\":[");
    int lines = 1 + rng.nextInt(3);
    for (int i = 0; i < lines; i++) {
      if (i > 0) sb.append(',');
      sb.append("{\"code\":\"L").append(rng.nextInt(1000)).append("\",\"value\":")
          .append(rng.nextInt(1000)).append(".5,\"when\":").append(q(date(day))).append('}');
    }
    sb.append("]}");
    if (rng.nextInt(20) == 0) sb.append(",\"note\":\"nul\\u0000inside\"");
    sb.append(",\"payload\":").append(q(filler(Math.max(0, recordSize() - sb.length() - 48))));
    return sb.append(",\"checkToken\":").append(q(token)).append('}').toString();
  }

  String auditRecord(LocalDate day, boolean delete, String token) {
    StringBuilder sb = new StringBuilder(600);
    sb.append("{\"auditType\":\"").append(new String[] {"LOGIN", "VIEW", "UPDATE"}[rng.nextInt(3)])
        .append("\",\"context\":{\"AUDIT_ID\":").append(q(hex(20)))
        .append(",\"SESSION\":").append(q(hex(12)))
        .append(",\"when\":").append(q(date(day)));
    if (delete) sb.append(",\"_removedDateTime\":").append(q(date(day)));
    sb.append(",\"detail\":").append(q(filler(Math.max(0, recordSize() / 2))));
    // inside context: the audit transform publishes context, not the root
    return sb.append(",\"checkToken\":").append(q(token)).append("}}").toString();
  }

  static String encrypt(String plain, String keyB64, String ivB64) throws Exception {
    Base64.Decoder d = Base64.getDecoder();
    Cipher c = Cipher.getInstance("AES/CTR/NoPadding");
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(d.decode(keyB64), "AES"),
        new IvParameterSpec(d.decode(ivB64)));
    return Base64.getEncoder().encodeToString(c.doFinal(plain.getBytes(StandardCharsets.UTF_8)));
  }

  /** Writes one (collection, data date) prefix; returns [valid, malformed]. */
  int[] writeDate(Collection c, Path root, LocalDate dataDay, int records, boolean firstDay)
      throws Exception {
    String[] encKeys = new String[KEYS_PER_DATE];
    for (int k = 0; k < KEYS_PER_DATE; k++) {
      encKeys[k] = b64(32);
      keyMap.put(encKeys[k], b64(16));
    }
    Path dir = root.resolve(String.format("%04d/%02d/%02d/%s/%s", dataDay.getYear(),
        dataDay.getMonthValue(), dataDay.getDayOfMonth(), c.db, c.name));
    Files.createDirectories(dir);
    // ids for this date: all new on the first day; later days update
    // earlier ids (each at most once per date) and add new ones
    List<String> todays = new ArrayList<>(records);
    java.util.Set<String> touched = new java.util.HashSet<>();
    for (int i = 0; i < records; i++) {
      if (!firstDay && rng.nextInt(100) < 40) {
        String canon = c.pool.get(rng.nextInt(c.pool.size()));
        if (touched.add(canon)) {
          todays.add(canon);
          continue;
        }
      }
      String[] id = newId();
      c.raw.put(id[1], id[0]);
      todays.add(id[1]);
    }
    int valid = 0, malformed = 0;
    BufferedWriter[] outs = new BufferedWriter[c.files];
    for (int f = 0; f < c.files; f++) {
      OutputStream os = new GZIPOutputStream(Files.newOutputStream(dir.resolve(
          String.format("part-%05d.jsonl.gz", f))), 1 << 16);
      outs[f] = new BufferedWriter(new OutputStreamWriter(os, StandardCharsets.UTF_8), 1 << 16);
    }
    int n = 0;
    for (String canon : todays) {
      String rawId = c.raw.get(canon);
      boolean delete = rng.nextInt(10) == 0;
      String token = hex(16);
      String plain = c.audit ? auditRecord(dataDay, delete, token)
          : calcRecord(rawId, dataDay, delete, token);
      String key = encKeys[rng.nextInt(KEYS_PER_DATE)];
      String iv = b64(16);
      String line = "{\"message\":{\"_id\":" + rawId + ",\"db\":" + q(c.db)
          + ",\"collection\":" + q(c.name)
          + ",\"dbObject\":" + q(encrypt(plain, keyMap.get(key), iv))
          + ",\"encryption\":{\"encryptionKeyId\":\"cloudhsm:1,2\",\"encryptedEncryptionKey\":"
          + q(key) + ",\"initialisationVector\":" + q(iv) + ",\"keyEncryptionKeyId\":\"kek\"}"
          + ",\"_lastModifiedDateTime\":" + q(date(dataDay)) + "},\"traceId\":" + q(hex(8)) + "}";
      BufferedWriter w = outs[n++ % c.files];
      int bad = rng.nextInt(1000);
      if (bad < 2) {
        // malformed: truncated JSON, or an envelope without dbObject;
        // the record it would have carried is never ingested
        w.write(bad == 0 ? line.substring(0, line.length() / 2)
            : line.replace("\"dbObject\"", "\"dbObjekt\""));
        w.write('\n');
        malformed++;
        continue;
      }
      w.write(line);
      w.write('\n');
      valid++;
      if (c.known.put(canon, delete || c.known.getOrDefault(canon, false)) == null) c.pool.add(canon);
      c.token.put(canon, token);
      c.ingested.merge(canon, 1, Integer::sum);
    }
    for (BufferedWriter w : outs) w.close();
    for (int f = 0; f < c.files; f++) {
      byte[] bytes = Files.readAllBytes(dir.resolve(String.format("part-%05d.jsonl.gz", f)));
      inputBytes += bytes.length;
      inputDigest.update(bytes);
    }
    return new int[] {valid, malformed};
  }

  static BigInteger digestOf(String s) throws Exception {
    byte[] md = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8));
    StringBuilder h = new StringBuilder();
    for (byte b : md) h.append(String.format("%02x", b));
    return new BigInteger(h.substring(0, 15), 16);
  }

  public static void main(String[] args) throws Exception {
    long seed = Long.parseLong(args[0]);
    Path out = Paths.get(args[1]);
    LocalDate firstExport = LocalDate.parse(args[2]);
    int days = Integer.parseInt(args[3]);
    int records = Integer.parseInt(args[4]);
    int auditRecords = Integer.parseInt(args[5]);
    EnvelopeGen g = new EnvelopeGen(seed);
    Path root = out.resolve("input");
    Collection[] cols = {
        new Collection("calculator", "calculationParts", false, 8),
        new Collection("data", "businessAudit", true, 2)};
    StringBuilder json = new StringBuilder("{\"collections\":[");
    for (int ci = 0; ci < cols.length; ci++) {
      Collection c = cols[ci];
      int total = c.audit ? auditRecords : records;
      StringBuilder dates = new StringBuilder();
      for (int d = 0; d < days; d++) {
        LocalDate export = firstExport.plusDays(d);
        int[] vm = g.writeDate(c, root, export.minusDays(1), total / days, d == 0);
        if (d > 0) dates.append(',');
        dates.append("{\"export_date\":").append(q(export.toString()))
            .append(",\"valid\":").append(vm[0]).append(",\"malformed\":").append(vm[1]).append('}');
      }
      BigInteger all = BigInteger.ZERO, del = BigInteger.ZERO, tok = BigInteger.ZERO;
      long deletes = 0;
      StringBuilder multi = new StringBuilder();
      for (Map.Entry<String, Boolean> e : c.known.entrySet()) {
        String id = e.getKey();
        boolean isDel = e.getValue();
        all = all.add(digestOf(id + "\t" + (isDel ? "DELETE" : "INSERT")));
        if (isDel) {
          deletes++;
          del = del.add(digestOf(id));
        }
        if (c.ingested.get(id) == 1) {
          tok = tok.add(digestOf(id + "\t" + c.token.get(id)));
        } else {
          if (multi.length() > 0) multi.append(',');
          multi.append(q(id.replace("\"", "\\\"")));
        }
      }
      if (ci > 0) json.append(',');
      json.append("{\"db\":").append(q(c.db)).append(",\"collection\":").append(q(c.name))
          .append(",\"dates\":[").append(dates).append("],\"ids\":").append(c.known.size())
          .append(",\"deletes\":").append(deletes)
          .append(",\"id_digest\":").append(q(all.toString()))
          .append(",\"delete_digest\":").append(q(del.toString()))
          .append(",\"token_digest\":").append(q(tok.toString()))
          .append(",\"multi_ids\":[").append(multi).append("]}");
    }
    StringBuilder keys = new StringBuilder();
    for (Map.Entry<String, String> e : g.keyMap.entrySet()) {
      if (keys.length() > 0) keys.append(',');
      keys.append(q(e.getKey())).append(':').append(q(e.getValue()));
    }
    StringBuilder digest = new StringBuilder();
    for (byte b : g.inputDigest.digest()) digest.append(String.format("%02x", b));
    json.append("],\"keys\":{").append(keys).append("},\"input_bytes\":").append(g.inputBytes)
        .append(",\"input_digest\":").append(q(digest.toString())).append('}');
    Files.write(out.resolve("truth.json"), json.toString().getBytes(StandardCharsets.UTF_8));
    System.out.println("{\"input_bytes\":" + g.inputBytes + ",\"digest\":" + q(digest.toString()) + "}");
  }
}
