package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** The drift truth table of a batch of raw mutations `(key, data, …)` — per
  * table: its key arities, its payload field set and whether any upsert
  * lacks a primary-key column — and the two key checks over it (reference:
  * apply.go:318-355). ONE definition for the staging write's riding
  * Observation ([[graft.stage.StagedStore]]) and the planner's in-plan
  * summary ([[graft.applyops.ApplyPlanner.plan]]).
  *
  * Rows name their table `0 until tables` with an int column (a literal for
  * one table), so one aggregate pass summarizes any number of tables. Each
  * table gets its own `collect_set`s over scalars and key arrays — a set of
  * `struct(table, …)` would copy and hash a struct per row, measurably
  * slower on the single-table staging path. Payload VALUES are never
  * materialized: json_object_keys walks the top-level keys without copying
  * KB-sized contents; the PK probe is a per-column path extraction.
  */
object SchemaDrift {

  /** A validated table's key arity and the payload names of its PK columns;
    * an empty name list checks the arity only.
    */
  type PkRule = (Int, Seq[String])

  /** The summary aggregates: key arities of each ruled table, the payload
    * field set of every table and the set of tables with a missing PK.
    */
  def aggregates(table: Column, tables: Int, rules: Map[Int, PkRule]): Seq[Column] = {
    val missingPk = rules.foldLeft(lit(false)) { case (acc, (t, (_, names))) =>
      if (names.isEmpty) acc
      else
        when(
          table === t,
          col("data").isNotNull &&
            names.map(n => get_json_object(col("data"), s"$$.$n").isNull).reduce(_ || _)
        ).otherwise(acc)
    }
    val arities = rules.keys.toSeq.sorted.map { t =>
      collect_set(when(table === t, size(from_json(col("key"), ArrayType(StringType)))))
        .as(s"arities_$t")
    }
    val fields = (0 until tables).map { t =>
      array_distinct(flatten(collect_set(when(table === t, expr("json_object_keys(data)")))))
        .as(s"fields_$t")
    }
    collect_set(when(missingPk, table)).as("missing_pk") +: (arities ++ fields)
  }

  /** Each table's payload field set from an [[aggregates]] result, after
    * checking each ruled table: a key of the wrong arity or an upsert missing
    * a PK column throws [[SchemaDriftException]], its message prefixed with
    * `label(table)`.
    */
  def check(
      summary: Map[String, Any],
      tables: Int,
      rules: Map[Int, PkRule],
      label: Int => String
  ): IndexedSeq[Seq[String]] = {
    // collected arrays arrive as mutable or immutable Seqs depending on path
    def set[T](name: String) = summary(name).asInstanceOf[collection.Seq[T]].toSeq
    val missing = set[Int]("missing_pk").toSet
    rules.toSeq.sortBy(_._1).foreach { case (t, (arity, names)) =>
      set[Int](s"arities_$t").find(_ != arity).foreach { got =>
        throw new SchemaDriftException(
          s"${label(t)}the mutation key has $got values, expected $arity"
        )
      }
      if (missing(t)) {
        throw new SchemaDriftException(
          s"${label(t)}missing primary-key column in payload; expected all of " +
            names.mkString("[", ", ", "]")
        )
      }
    }
    (0 until tables).map(t => set[String](s"fields_$t"))
  }
}
