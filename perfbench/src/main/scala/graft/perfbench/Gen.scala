package graft.perfbench

import graft.core.Crypto
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.util.Base64
import java.util.zip.GZIPOutputStream

/** Seeded Mongo-dump generator: `<db>.<coll>.<n>.json.gz.enc` data files
  * (NDJSON → gzip → AES-CTR) with `*.encryption.json` sidecars whose data
  * keys are wrapped for the loopback key service ([[Dks]]). The program
  * only ever sees these files; everything the correctness checks expect
  * is derived here from the same seed.
  *
  * Traffic dimensions (stated in the README next to this file):
  *   - record bodies log-uniform between `MinBody` and `MaxBody` bytes;
  *   - `EdgeShare` of the lines are edge cases (malformed, missing id,
  *     `$oid` id, id with an inner date, removed/archived wrappers, no
  *     `_lastModifiedDateTime`);
  *   - file sizes Zipf-skewed (exponent `FileSkew`), so one file is the
  *     straggler task;
  *   - collections include names the coalescing rules merge
  *     (`claimant-one`/`claimant-two` → `claimant`,
  *     `agentToDoArchive` → `agentToDo`).
  */
object Gen {

  final case class Shape(files: Int, records: Int)

  val MinBody = 300
  val MaxBody = 6000
  val EdgeShare = 0.02
  val FileSkew = 0.9

  /** One input line and what the record chain must make of it. */
  final case class Line(file: String, lineNo: Long, text: String, kind: String,
                        db: String, coll: String, fileNumber: Int)

  final case class Dump(dir: Path, lines: Vector[Line], fileKeys: Map[String, String],
                        decompressedBytes: Long) {
    def ok: Vector[Line] = lines.filter(l => l.kind != Kind.Malformed && l.kind != Kind.MissingId)
    def count(kind: String): Long = lines.count(_.kind == kind).toLong
    def files: Int = fileKeys.size
  }

  object Kind {
    val Plain = "plain"
    val Malformed = "malformed"
    val MissingId = "missing_id"
    val OidId = "oid_id"
    val InnerDateId = "inner_date_id"
    val Removed = "removed"
    val Archived = "archived"
    val NoLastModified = "no_last_modified"
    val edge: Vector[String] = Vector(Malformed, MissingId, OidId, InnerDateId, Removed, Archived, NoLastModified)
  }

  val Collections: Vector[(String, String)] = Vector(
    "core" -> "claimant-one", "core" -> "claimant-two", "core" -> "contract",
    "agent_core" -> "agentToDo", "agent_core" -> "agentToDoArchive",
    "accepted_data" -> "addressDeclaration")

  private val Words = Vector("claim", "address", "payment", "agent", "contract", "status", "review",
    "benefit", "postcode", "declaration", "history", "record", "value", "note", "case", "amount")

  private def date(r: java.util.Random, fromYear: Int, toYear: Int): String = {
    val lo = java.time.LocalDate.of(fromYear, 1, 1).toEpochDay * 86400000L
    val hi = java.time.LocalDate.of(toYear, 1, 1).toEpochDay * 86400000L
    val ms = lo + (r.nextDouble() * (hi - lo)).toLong
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(ms))
  }

  private def body(r: java.util.Random, target: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (sb.length < target) {
      if (i > 0) sb.append(", ")
      sb.append("\"f").append(i).append("\": ")
      r.nextInt(4) match {
        case 0 => sb.append(r.nextInt(100000))
        case 1 => sb.append("{\"a\": ").append(r.nextInt(10)).append(", \"b\": [1, 2, 3], \"c\": \"x\"}")
        case _ =>
          sb.append('"')
          (0 until 3 + r.nextInt(12)).foreach { w => if (w > 0) sb.append(' '); sb.append(Words(r.nextInt(Words.size))) }
          sb.append('"')
      }
      i += 1
    }
    sb.toString
  }

  private def record(r: java.util.Random, decl: String, kind: String): String = {
    val target = math.exp(math.log(MinBody) + r.nextDouble() * (math.log(MaxBody) - math.log(MinBody))).toInt
    val lm = date(r, 2016, 2020)
    val created = date(r, 2010, 2016)
    val id = kind match {
      case Kind.OidId => s"""{"$$oid": "$decl"}"""
      case Kind.InnerDateId =>
        s"""{"someId": "$decl-s", "declarationId": "$decl", "createdDateTime": {"$$date": "$created"}}"""
      case _ => s"""{"someId": "$decl-s", "declarationId": "$decl"}"""
    }
    val idField = if (kind == Kind.MissingId) "" else s""""_id": $id, """
    val lmField = if (kind == Kind.NoLastModified) "" else s""", "_lastModifiedDateTime": {"$$date": "$lm"}"""
    val full = s"""{$idField"type": "addressDeclaration", "createdDateTime": {"$$date": "$created"}, """ +
      s""""_version": ${1 + r.nextInt(5)}, ${body(r, target)}$lmField}"""
    kind match {
      case Kind.Malformed => full.take(full.length / 2)
      case Kind.Removed =>
        s"""{"_removed": ${full.dropRight(1)}, "_removedDateTime": {"$$date": "${date(r, 2019, 2020)}"}}}"""
      case Kind.Archived =>
        s"""{"_archived": ${full.dropRight(1)}, "_archivedDateTime": {"$$date": "${date(r, 2019, 2020)}"}}}"""
      case _ => full
    }
  }

  /** Write a seeded dump under `dir` (created; must not exist). */
  def dumps(dir: Path, seed: Long, shape: Shape): Dump = {
    val r = new java.util.Random(seed)
    Files.createDirectories(dir)
    // Zipf-skewed file sizes, largest first in a shuffled order
    val weights = (1 to shape.files).map(i => 1.0 / math.pow(i, FileSkew))
    val sizes = weights.map(w => math.max(5, math.round(shape.records * w / weights.sum).toInt))
    val order = scala.util.Random.javaRandomToRandom(new java.util.Random(seed ^ 0x5eed)).shuffle(sizes.indices.toVector)
    val lines = Vector.newBuilder[Line]
    var keys = Map.empty[String, String]
    var bytes = 0L
    order.zipWithIndex.foreach { case (sizeIdx, n) =>
      val (db, coll) = Collections(n % Collections.size)
      val fileNumber = 1 + n
      val stem = f"$db.$coll.$fileNumber%04d.json"
      val dataName = s"$stem.gz.enc"
      val text = new StringBuilder
      (1 to sizes(sizeIdx)).foreach { j =>
        val kind = if (r.nextDouble() < EdgeShare) Kind.edge(r.nextInt(Kind.edge.size)) else Kind.Plain
        val line = record(r, f"$seed%x.$db.$coll.$fileNumber-$j", kind)
        text.append(line).append('\n')
        lines += Line(dataName, j.toLong, line, kind, db, coll, fileNumber)
      }
      val plain = text.toString.getBytes("UTF-8")
      bytes += plain.length
      val gz = new ByteArrayOutputStream()
      val go = new GZIPOutputStream(gz)
      go.write(plain); go.close()
      val key = Base64.getEncoder.encodeToString(Array.fill[Byte](16)(r.nextInt().toByte))
      val iv = Array.fill[Byte](16)(r.nextInt().toByte)
      val enc = Crypto.encrypt(key, gz.toByteArray, () => iv)
      Files.write(dir.resolve(dataName), Base64.getDecoder.decode(enc.encrypted))
      val meta = s"""{"keyEncryptionKeyId": "cloudhsm:${n % 7},${n % 3}", "encryptedEncryptionKey": "${Dks.wrap(key)}", """ +
        s""""initialisationVector": "${enc.initialisationVector}"}"""
      Files.write(dir.resolve(s"$stem.encryption.json"), meta.getBytes("UTF-8"))
      keys += dataName -> key
    }
    Dump(dir, lines.result(), keys, bytes)
  }
}
