package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A lakehouse table tailed as micro-batches: the lifecycle the Iceberg,
  * Hive ACID and Hudi streaming sources share. The table's own commit
  * log supplies the offsets (snapshot ids, write ids, instant times), so
  * exactly-once needs no side state: a restart replans the same
  * (start, end] range. A format supplies its pending units, its initial
  * key and offset JSON field, [[plan]] and its reader factory.
  *
  * Admission: `latestOffset` admits at most `max` pending units after
  * the start offset when the user's cap option is set ([[ReadMaxUnits]]),
  * and never answers below the start.
  *
  * The poll rule, one for every format: a poll that fails transiently
  * makes no progress on that trigger (the stream answers the start
  * offset and logs the failure with the path);
  * [[TailingStream.MaxPollFailures]] consecutive failures throw an `IllegalStateException`, so a deleted
  * table fails the stream loudly instead of idling it forever; a
  * successful poll resets the count. The formats' checks on table state
  * (`IllegalStateException`/`IllegalArgumentException`: delete deltas,
  * a compacted range across the boundary, a rewrite commit) are
  * permanent facts and are rethrown at once. */
abstract class TailingStream[K](path: String, field: String, initialKey: K,
                                capOption: String, cap: Option[Int])(
    implicit ord: Ordering[K]) extends MicroBatchStream with SupportsAdmissionControl {
  import ord.mkOrderingOps

  /** Keys of the units committed after `from`, in commit order; each is
    * the offset the stream moves to when it admits that unit. One poll
    * of the table's commit log. */
  protected def pending(from: K): Seq[K]

  /** The input of the batch (from, to]. */
  protected def plan(from: K, to: K): Array[InputPartition]

  /** Newest key seen, the answer to `reportLatestOffset`; seeded from
    * every offset Spark hands back, so a restart never reports a key
    * below its checkpoint. */
  @volatile private var lastSeen = initialKey
  private def noteSeen(k: K): Unit = if (k > lastSeen) lastSeen = k
  private var pollFailures = 0

  private def offset(k: K) = TailOffset(field, k)
  private def keyOf(o: Offset): K = o.asInstanceOf[TailOffset[K]].key

  override def getDefaultReadLimit: ReadLimit =
    cap.map(ReadMaxUnits(capOption, _): ReadLimit).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = keyOf(start)
    noteSeen(from)
    val units = poll(from)
    units.lastOption.foreach(noteSeen)
    val admitted = limit match {
      case ReadMaxUnits(_, max) => units.take(max)
      case _ => units
    }
    offset(admitted.lastOption.filter(_ > from).getOrElse(from))
  }

  private def poll(from: K): Seq[K] =
    try { val units = pending(from); pollFailures = 0; units }
    catch {
      // a half-written number (an empty version hint) is a race, not table state
      case e: IllegalArgumentException if !e.isInstanceOf[NumberFormatException] => throw e
      case e: IllegalStateException => throw e
      case scala.util.control.NonFatal(e) =>
        pollFailures += 1
        if (pollFailures >= TailingStream.MaxPollFailures) throw new IllegalStateException(
          s"$path: poll failed $pollFailures consecutive times — the table is " +
            "likely missing or deleted, not transiently slow", e)
        System.err.println(s"[tail] $path: poll failed $pollFailures time(s), " +
          s"no progress this trigger: $e")
        Nil
    }

  override def reportLatestOffset(): Offset = offset(lastSeen)
  override def latestOffset(): Offset = throw new IllegalStateException(
    "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")
  override def initialOffset(): Offset = offset(initialKey)

  override def deserializeOffset(json: String): Offset = {
    val v = IcebergMeta.mapper.readTree(json).get(field)
    val k = (if (v.isTextual) v.asText else v.asLong).asInstanceOf[K]
    noteSeen(k)
    offset(k)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val to = keyOf(end)
    noteSeen(to)
    plan(keyOf(start), to)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object TailingStream {
  /** Consecutive failed polls before the stream fails. */
  val MaxPollFailures = 3
}

/** A tailing stream's offset, persisted in checkpoints as one JSON field:
  * `{"snapshot":N}`, `{"writeId":N}`, `{"instant":"…"}`. Numbers for
  * Long keys, strings for String keys; the bytes must not change, or
  * existing checkpoints stop restarting. */
final case class TailOffset[K](field: String, key: K) extends Offset {
  override def json(): String = {
    val n = IcebergMeta.mapper.createObjectNode()
    key match {
      case s: String => n.put(field, s)
      case l: Long => n.put(field, l)
    }
    IcebergMeta.mapper.writeValueAsString(n)
  }
}

/** At most `max` pending units admitted per micro-batch, set by the
  * user option `option` (`maxSnapshotsPerTrigger`, `maxWriteIdsPerTrigger`,
  * `maxCommitsPerTrigger`): a stream restarted after downtime drains its
  * catch-up over bounded batches instead of one unbounded one. */
case class ReadMaxUnits(option: String, max: Int) extends ReadLimit {
  require(max > 0, s"$option must be positive, got $max")
}

/** A table that only streams, with column pruning: `stream(options)`
  * reads the stream's options once per scan and returns the stream
  * for the pruned schema. */
class TailTable(label: String, path: String, tableSchema: StructType,
                stream: CaseInsensitiveStringMap => StructType => MicroBatchStream)
    extends Table with SupportsRead {
  override def name(): String = s"graft-$label-stream($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val forSchema = stream(options)
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = required
        override def description(): String =
          s"graft-$label-stream $path cols=${required.fieldNames.mkString(",")}"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          forSchema(required)
      }
    }
  }
}
