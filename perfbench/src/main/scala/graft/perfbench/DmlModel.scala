package graft.perfbench

/** One row of a DML table: the `orders` columns the workload keeps,
  * partitioned by priority and keyed by order key. */
final case class OrderRow(key: Long, cust: Long, status: String, price: Double, prio: String)

/** A generated statement, rendered to SQL against a table name. Prices are
  * double literals (`12.5D`) so the engine and the model do the same IEEE
  * arithmetic. */
sealed trait Stmt {
  def sql(table: String): String
  def kind: String
}

object Stmt {
  private def lit(r: OrderRow): String =
    s"(${r.key}L, ${r.cust}L, '${r.status}', ${r.price}D, '${r.prio}')"

  final case class Insert(rows: Seq[OrderRow]) extends Stmt {
    val kind = "insert"
    def sql(t: String): String = s"INSERT INTO $t VALUES ${rows.map(lit).mkString(", ")}"
  }
  final case class Update(lo: Long, hi: Long, delta: Double, status: String) extends Stmt {
    val kind = "update"
    def sql(t: String): String =
      s"UPDATE $t SET o_totalprice = o_totalprice + ${delta}D, o_orderstatus = '$status' " +
        s"WHERE o_orderkey BETWEEN $lo AND $hi"
  }
  final case class Delete(lo: Long, hi: Long) extends Stmt {
    val kind = "delete"
    def sql(t: String): String = s"DELETE FROM $t WHERE o_orderkey BETWEEN $lo AND $hi"
  }
  /** Upsert: matched keys take the source price and status, new keys are
    * inserted. Source keys are distinct. */
  final case class Merge(rows: Seq[OrderRow]) extends Stmt {
    val kind = "merge"
    def sql(t: String): String =
      s"""MERGE INTO $t AS tgt
         |USING (SELECT * FROM VALUES ${rows.map(lit).mkString(", ")}
         |  AS src(k, c, st, p, pr)) src
         |ON tgt.o_orderkey = src.k
         |WHEN MATCHED THEN UPDATE SET o_totalprice = src.p, o_orderstatus = src.st
         |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
         |  o_totalprice, o_orderpriority) VALUES (src.k, src.c, src.st, src.p, src.pr)
         |""".stripMargin
  }
  /** Dynamic partition overwrite of one priority with its own rows,
    * repriced. An empty partition stays empty. */
  final case class Overwrite(prio: String, factor: Double) extends Stmt {
    val kind = "overwrite"
    def sql(t: String): String =
      s"INSERT OVERWRITE $t SELECT o_orderkey, o_custkey, o_orderstatus, " +
        s"o_totalprice * ${factor}D, o_orderpriority FROM $t WHERE o_orderpriority = '$prio'"
  }
  final case class Read() extends Stmt {
    val kind = "read"
    def sql(t: String): String =
      s"SELECT o_orderpriority, count(*) AS n, sum(o_orderkey) AS keys, " +
        s"sum(o_totalprice) AS price FROM $t GROUP BY o_orderpriority"
  }
  final case class Compact() extends Stmt {
    val kind = "compact"
    def sql(t: String): String = s"CALL ${graft.GraftBootstrap.CatalogName}.sys.compact('$t')"
  }
}

/** The expected content of one table: what every acknowledged statement
  * must have left behind. */
final class DmlModel(initial: Iterable[OrderRow]) {
  private var live: Map[Long, OrderRow] = initial.map(r => r.key -> r).toMap

  def rows: Map[Long, OrderRow] = live

  /** The table after `s`, and the number of rows `s` changes. Pure: the
    * model moves only when [[commit]] is called, after the engine
    * acknowledged the statement. */
  def applied(s: Stmt): (Map[Long, OrderRow], Int) = s match {
    case Stmt.Insert(rs) =>
      (live ++ rs.map(r => r.key -> r), rs.size)
    case Stmt.Update(lo, hi, delta, status) =>
      val hit = live.values.filter(r => r.key >= lo && r.key <= hi)
      (live ++ hit.map(r => r.key -> r.copy(price = r.price + delta, status = status)), hit.size)
    case Stmt.Delete(lo, hi) =>
      val hit = live.keys.filter(k => k >= lo && k <= hi)
      (live -- hit, hit.size)
    case Stmt.Merge(rs) =>
      (live ++ rs.map { src =>
        src.key -> live.get(src.key).fold(src)(_.copy(price = src.price, status = src.status))
      }, rs.size)
    case Stmt.Overwrite(prio, factor) =>
      val hit = live.values.filter(_.prio == prio)
      (live ++ hit.map(r => r.key -> r.copy(price = r.price * factor)), hit.size)
    case Stmt.Read() | Stmt.Compact() => (live, 0)
  }

  def commit(next: Map[Long, OrderRow]): Unit = live = next

  /** The aggregate the `Read` statement returns, per priority:
    * (rows, sum of keys, sum of prices). */
  def aggregate: Map[String, (Long, Long, Double)] =
    live.values.groupBy(_.prio).map { case (p, rs) =>
      p -> (rs.size.toLong, rs.map(_.key).sum, rs.map(_.price).sum)
    }
}
