package graft.perfbench

import graft.core._
import graft.core.RecordProcessor.FileContext
import graft.core.Transforms.IdModification
import graft.ingest.Catalog

/** The `graft.core` layers timed from outside, single-threaded, over a
  * workload's own dump: decode (metadata + decrypt + gunzip per file) and
  * the record chain, split along the public functions
  * [[RecordProcessor.processLine]] calls, in its order. */
object Core {

  private def perRecordUs(n: Int)(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3 / math.max(1, n)
  }

  /** (busy seconds, decompressed MB/s) over every file of the dump. */
  def decode(dump: Gen.Dump): (Double, Double) = {
    val conf = new org.apache.hadoop.conf.Configuration()
    var bytes = 0L
    val busy = Trace.span("core.decode") {
      val t0 = System.nanoTime()
      dump.fileKeys.keys.toSeq.sorted.foreach { name =>
        Trace.span("core.decode.file") {
          val dataPath = dump.dir.resolve(name)
          val meta = Catalog.readMetadata(dump.dir.resolve(name.stripSuffix(".gz.enc") + ".encryption.json").toString, conf)
          val in = Crypto.decompressingDecryptingStream(java.nio.file.Files.newInputStream(dataPath),
            Dks.unwrap(meta.encryptedEncryptionKey), meta.initialisationVector)
          try {
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            while (n >= 0) { bytes += n; n = in.read(buf) }
          } finally in.close()
        }
      }
      (System.nanoTime() - t0) / 1e9
    }
    (busy, bytes / 1e6 / busy)
  }

  /** Per-record microseconds of each chain step plus the whole
    * `processLine`, and the share of lines that came out Ok. The steps
    * repeat `processLine`'s own glue between those calls, so each OK
    * line's step-by-step output (envelope, rowkey, version, manifest
    * line) is checked against what `processLine` made of it: a change
    * inside `processLine` that these steps no longer follow fails the
    * run instead of timing a stale copy. */
  def chain(lines: Seq[Gen.Line], checks: Main.Checks, rounds: Int = 2): Seq[(String, Double)] = {
    val key = java.util.Base64.getEncoder.encodeToString(Array.tabulate[Byte](16)(_.toByte))
    val dk = Envelope.DataKeyResult("cloudhsm:7,14", key, Dks.wrap(key))
    // a fixed clock, so the envelopes of two calls on one line compare equal
    val at = new java.util.Date(1700000000000L)
    val identity = Envelope.RunIdentity("perfbench-chain", "perfbench", "perfbench", () => at)
    val iv: () => Array[Byte] = () => new Array[Byte](16)
    val ctxs = lines.map(l => (l.db, l.coll, l.fileNumber)).distinct
      .map(k => k -> FileContext(k._1, k._2, k._3, dk)).toMap
    def ctx(l: Gen.Line) = ctxs((l.db, l.coll, l.fileNumber))
    val whole = lines.flatMap(l => RecordProcessor.processLine(l.text, ctx(l), identity, iv).toOption.map(l -> _))
    val ok = whole.map(_._1).toArray
    val n = ok.length
    var last: Seq[(String, Double)] = Nil
    (1 to rounds).foreach { _ => // the first round warms the JIT
      val full = Trace.span("core.chain.processLine") {
        perRecordUs(lines.size)(lines.foreach(l => RecordProcessor.processLine(l.text, ctx(l), identity, iv)))
      }
      val parsed = new Array[(JObj, Boolean)](n)
      val parse = Trace.span("core.chain.parse") {
        perRecordUs(n)((0 until n).foreach(i => parsed(i) = Transforms.reformatRemoved(ok(i).text)))
      }
      final case class T(record: JObj, removed: Boolean, archived: Boolean, originalId: Option[JValue],
                         id: String, idMod: IdModification,
                         created: (String, Boolean), removedDt: (String, Boolean), archivedDt: (String, Boolean),
                         lastModified: (String, String))
      val ts = new Array[T](n)
      val transform = Trace.span("core.chain.transform") {
        perRecordUs(n)((0 until n).foreach { i =>
          val (afterRemoved, isRemoved) = parsed(i)
          val (record, isArchived) = Transforms.reformatArchived(afterRemoved)
          val originalId = record.get("_id")
          val (id, idMod) = Transforms.normalisedId(originalId)
          val created = Transforms.optionalDateTime(Transforms.CreatedField, record)
          val removedDt = Transforms.optionalDateTime(Transforms.RemovedField, record)
          val archivedDt = Transforms.optionalDateTime(Transforms.ArchivedField, record)
          val lm = Transforms.lastModifiedDateTime(record.get(Transforms.LastModifiedField), created._1)
          if (idMod == IdModification.FlattenedMongoId) record.overwrite("_id", JStr(id))
          else if (idMod == IdModification.FlattenedInnerDate) record.overwrite("_id", Json.parseObject(id))
          if (lm._2 != Transforms.LastModifiedField) record.overwrite(Transforms.LastModifiedField, JStr(lm._1))
          if (created._2) record.overwrite(Transforms.CreatedField, JStr(created._1))
          if (removedDt._2) record.overwrite(Transforms.RemovedField, JStr(removedDt._1))
          if (archivedDt._2) record.overwrite(Transforms.ArchivedField, JStr(archivedDt._1))
          ts(i) = T(record, isRemoved, isArchived, originalId, id, idMod, created, removedDt, archivedDt, lm)
        })
      }
      val rendered = new Array[Array[Byte]](n)
      val render = Trace.span("core.chain.render") {
        perRecordUs(n)((0 until n).foreach(i => rendered(i) = Json.renderRecord(ts(i).record).getBytes("UTF-8")))
      }
      val encrypted = new Array[Envelope.EncryptionResult](n)
      val encrypt = Trace.span("core.chain.encrypt") {
        perRecordUs(n)((0 until n).foreach(i => encrypted(i) = Crypto.encrypt(key, rendered(i), iv)))
      }
      def modified(t: T) = t.idMod == IdModification.FlattenedMongoId || t.idMod == IdModification.FlattenedInnerDate
      def isString(t: T) = t.idMod == IdModification.UnmodifiedStringId || t.idMod == IdModification.FlattenedMongoId
      val produced = new Array[Envelope.ProducedMessage](n)
      val envelope = Trace.span("core.chain.envelope") {
        perRecordUs(n)((0 until n).foreach { i =>
          val t = ts(i); val c = ctx(ok(i))
          produced(i) = Envelope.produceMessageParts(t.record, t.id, isString(t), modified(t),
            t.lastModified._1, t.lastModified._2,
            t.created._1.trim.nonEmpty && t.created._2, t.removedDt._1.trim.nonEmpty && t.removedDt._2,
            t.archivedDt._1.trim.nonEmpty && t.archivedDt._2, t.removed, t.archived,
            encrypted(i), dk, c.database, c.collection, identity)
        })
      }
      val versions = new Array[Long](n)
      val rowkeys = new Array[Array[Byte]](n)
      val rowkey = Trace.span("core.chain.rowkey") {
        perRecordUs(n)((0 until n).foreach { i =>
          val t = ts(i); val p = produced(i)
          rowkeys(i) = Rowkey.idToKeyObject(Json.parse(p.messageIdJson)).map(Rowkey.generateKey)
            .getOrElse(Array.emptyByteArray)
          versions(i) = Versions.getTimestampAsLong(
            Versions.getVersion(p.innerType, t.lastModified._1, t.removedDt._1, t.archivedDt._1))
        })
      }
      val manifestLines = new Array[String](n)
      val manifest = Trace.span("core.chain.manifest_line") {
        perRecordUs(n)((0 until n).foreach { i =>
          val t = ts(i); val c = ctx(ok(i))
          val idForManifest = if (isString(t)) t.id else Json.sortByKeyCompact(Json.parseObject(t.id))
          val incoming = if (modified(t)) Transforms.incomingId(t.originalId) else idForManifest
          manifestLines(i) = CsvEscape.csv(CsvEscape.ManifestRecord(idForManifest, versions(i), c.database,
            c.collection, "IMPORT", "HDI", produced(i).innerType, incoming))
        })
      }
      val differs = (0 until n).count { i =>
        val p = whole(i)._2
        p.envelope != produced(i).envelope || !java.util.Arrays.equals(p.rowkey, rowkeys(i)) ||
          p.version != versions(i) || p.manifestLine != manifestLines(i)
      }
      checks.counted(n, differs, s"$differs of $n lines: the chain's steps no longer reproduce processLine")
      last = Seq("core.chain.us_per_record" -> full, "core.chain.parse_us" -> parse,
        "core.chain.transform_us" -> transform, "core.chain.render_us" -> render,
        "core.chain.encrypt_us" -> encrypt, "core.chain.envelope_us" -> envelope,
        "core.chain.rowkey_us" -> rowkey, "core.chain.manifest_line_us" -> manifest,
        "core.chain.ok_ratio" -> n.toDouble / math.max(1, lines.size))
    }
    last
  }
}
